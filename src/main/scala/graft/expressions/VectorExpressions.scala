package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Native codegen vector kernels over `ARRAY<DOUBLE>` columns.
  *
  * Why these exist: the HOF formulation (`transform`/`zip_with`/`aggregate`)
  * is interpreted (`CodegenFallback`) and — worse — Catalyst's
  * `CollapseProject` inlines a precomputed norm column back into the
  * `transform` lambda, re-evaluating the O(dim) norm once PER ELEMENT
  * (O(dim²) per row; the round-1 verdict measured ~2.7× on cosine vs
  * euclidean at dim=64). Each expression here evaluates its norm exactly
  * once per row inside one loop body, participates in whole-stage
  * codegen, and cannot be torn apart by the optimizer.
  *
  * One body per kernel: the loop is the expression's Scala `kernel`
  * method, and both `nullSafeEval` and the generated code call it — so
  * the two paths cannot drift, and a kernel adds one call, not its
  * loops, to the stage's generated method ([[PairwiseKernel]],
  * [[ArrayKernel]]).
  *
  * Float semantics are bit-identical to the HOF forms (and to the DuckDB
  * oracle SQL in [[graft.Oracle]]): left-to-right folds seeded with 0.0,
  * `1e-12` eps added to the L2 norm before dividing (reference
  * index.py:4-8), cosine = normalize-both-then-dot (reference
  * index.py:11-16), NOT `dot/(na*nb)` which rounds differently.
  *
  * Null contract: null input array → null result (`nullIntolerant`);
  * array elements are assumed non-null doubles (enforced by the fixture
  * schema and `VectorTable`'s dim check).
  */
object VectorExpressions {
  val Eps = 1e-12

  /** Bits per packed PQ sub-code: `ceil(log2(ksub))` (4 at ksub=16).
    * THE single definition of the packed-code bit layout — shared by
    * [[VecPqAdcScore]] (unpack side) and
    * [[graft.operators.VectorSearch]]'s pack side (ADVICE r14: the
    * rule was duplicated with only a comment tying the two sites). */
  def packedCodeBits(ksub: Int): Int = {
    require(ksub >= 1, s"packedCodeBits: ksub must be >= 1, got $ksub")
    (64 - java.lang.Long.numberOfLeadingZeros((ksub - 1).toLong)).toInt
  }

  /** Accept ARRAY<DOUBLE> regardless of element nullability flag.
    * (`ExpectsInputTypes` is not implementable outside the sql package in
    * Spark 4 — `AbstractDataType` is `private[sql]` — so the check is
    * hand-rolled.) */
  private def checkArrayDouble(name: String, types: Seq[DataType]): TypeCheckResult =
    if (types.forall {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects ARRAY<DOUBLE> inputs, got ${types.mkString(", ")}")

  /** Whether an input's type admits null elements. The kernels read
    * primitive slots, so a null element would silently yield 0.0 —
    * instead they raise. The guard is checked ONLY when the type says
    * nulls are possible: kernel outputs (`containsNull=false`) chain
    * guard-free, so e.g. the knn pair loop over pre-normalized vectors
    * pays nothing. */
  private def mayContainNull(t: DataType): Boolean = t match {
    case ArrayType(_, n) => n
    case _ => true
  }

  private def nullElement(name: String, i: Int): Nothing =
    throw new IllegalArgumentException(
      s"$name: null array element at index $i (null elements are not supported)")

  /** Binary kernels demand equal lengths — the reference raises on
    * dimension mismatch (storage.py:15-16), and silently folding over
    * the common prefix would diverge from the HOF/oracle forms. */
  private def lengthMismatch(name: String, nx: Int, ny: Int): Nothing =
    throw new IllegalArgumentException(
      s"$name: array length mismatch ($nx vs $ny)")

  /** What the pairwise `ARRAY<DOUBLE> × ARRAY<DOUBLE> → DOUBLE` kernels
    * share: the input-type check, the result type, null intolerance, the
    * per-side null-element guards, and the one-body rule — `kernel` is
    * the loop, called by eval and by the generated code (package-private
    * in Scala, public in bytecode, so the generated class can call it). */
  private[expressions] sealed trait PairwiseKernel extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkArrayDouble(prettyName, Seq(left.dataType, right.dataType))
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true

    protected def guardL: Boolean = mayContainNull(left.dataType)
    protected def guardR: Boolean = mayContainNull(right.dataType)

    protected def sameLength(x: ArrayData, y: ArrayData): Int = {
      val n = x.numElements()
      if (n != y.numElements()) lengthMismatch(prettyName, n, y.numElements())
      n
    }

    private[expressions] def kernel(x: ArrayData, y: ArrayData): Double

    override protected def nullSafeEval(a: Any, b: Any): Any =
      kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val k = ctx.addReferenceObj("kernel", this)
      defineCodeGen(ctx, ev, (x, y) => s"$k.kernel($x, $y)")
    }
  }

  /** The [[PairwiseKernel]] rule for the unary `ARRAY<DOUBLE> → ARRAY`
    * kernels: normalize, LSH buckets, nearest centroids. */
  private[expressions] sealed trait ArrayKernel extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkArrayDouble(prettyName, Seq(child.dataType))
    override def nullIntolerant: Boolean = true

    protected def guard: Boolean = mayContainNull(child.dataType)

    /** `x` copied into a fresh `double[]` of length `dim` — raises on
      * another length or (when [[guard]]) on a null element. */
    protected def doubles(x: ArrayData, dim: Int): Array[Double] = {
      val n = x.numElements()
      if (n != dim) lengthMismatch(prettyName, n, dim)
      val g = guard
      val vec = new Array[Double](n)
      var i = 0
      while (i < n) {
        if (g && x.isNullAt(i)) nullElement(prettyName, i)
        vec(i) = x.getDouble(i); i += 1
      }
      vec
    }

    private[expressions] def kernel(x: ArrayData): ArrayData

    override protected def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val k = ctx.addReferenceObj("kernel", this)
      defineCodeGen(ctx, ev, x => s"$k.kernel($x)")
    }
  }

  /** Dot product `Σ a[i]*b[i]`, left fold from 0.0. */
  case class VecDot(left: Expression, right: Expression) extends PairwiseKernel {
    override def prettyName: String = "vec_dot"

    private[expressions] def kernel(x: ArrayData, y: ArrayData): Double = {
      val n = sameLength(x, y)
      val gl = guardL
      val gr = guardR
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (gl && x.isNullAt(i)) nullElement(prettyName, i)
        if (gr && y.isNullAt(i)) nullElement(prettyName, i)
        acc += x.getDouble(i) * y.getDouble(i); i += 1
      }
      acc
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Eps-guarded L2 normalize `v / (sqrt(Σ v[i]²) + 1e-12)` — the norm is
    * computed once per row inside the kernel (reference index.py:4-8). */
  case class VecL2Normalize(child: Expression) extends ArrayKernel {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "vec_l2_normalize"

    private[expressions] def kernel(x: ArrayData): ArrayData = {
      val n = x.numElements()
      val g = guard
      var ss = 0.0
      var i = 0
      while (i < n) {
        if (g && x.isNullAt(i)) nullElement(prettyName, i)
        val v = x.getDouble(i); ss += v * v; i += 1
      }
      val nrm = math.sqrt(ss) + Eps
      val out = new Array[Double](n)
      i = 0
      while (i < n) { out(i) = x.getDouble(i) / nrm; i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Cosine similarity: both norms computed once, then the left fold of
    * `(a[i]/na) * (b[i]/nb)` — bit-identical to normalize-both-then-dot
    * (reference index.py:11-16). Unequal lengths raise (the HOF form
    * would yield NULL via zip_with padding; a silent common-prefix fold
    * diverged from the spec — round-2 advice). */
  case class VecCosine(left: Expression, right: Expression) extends PairwiseKernel {
    override def prettyName: String = "vec_cosine"

    private[expressions] def kernel(x: ArrayData, y: ArrayData): Double = {
      val n = sameLength(x, y)
      val gl = guardL
      val gr = guardR
      var ssx = 0.0
      var ssy = 0.0
      var i = 0
      while (i < n) {
        if (gl && x.isNullAt(i)) nullElement(prettyName, i)
        if (gr && y.isNullAt(i)) nullElement(prettyName, i)
        val vx = x.getDouble(i); ssx += vx * vx
        val vy = y.getDouble(i); ssy += vy * vy
        i += 1
      }
      val nx = math.sqrt(ssx) + Eps
      val ny = math.sqrt(ssy) + Eps
      var acc = 0.0
      i = 0
      while (i < n) { acc += (x.getDouble(i) / nx) * (y.getDouble(i) / ny); i += 1 }
      acc
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Euclidean distance `sqrt(Σ (a[i]-b[i])²)` (reference index.py:25-29). */
  case class VecEuclideanDistance(left: Expression, right: Expression)
      extends PairwiseKernel {
    override def prettyName: String = "vec_euclidean_distance"

    private[expressions] def kernel(x: ArrayData, y: ArrayData): Double = {
      val n = sameLength(x, y)
      val gl = guardL
      val gr = guardR
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (gl && x.isNullAt(i)) nullElement(prettyName, i)
        if (gr && y.isNullAt(i)) nullElement(prettyName, i)
        val d = x.getDouble(i) - y.getDouble(i)
        acc += d * d
        i += 1
      }
      math.sqrt(acc)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** One-pass int8-quantization statistics over ARRAY<DOUBLE> — the
    * kernel behind `q_quantize`. Replicates the HOF/oracle arithmetic
    * bit-for-bit (`s = max|x|/127`, `c_i = clamp(floor(x_i/s + 0.5),
    * ±127)`, reconstruction `c_i·s`, LEFT-fold error sum seeded 0.0) in
    * one generated pass: the HOF form was CodegenFallback and paid
    * O(dim²) interpreted lambda evals per row after CollapseProject
    * inlined the scale into the transform (plus a self-join to recover
    * the original vector for the error fold — the kernel sees both at
    * once). Output: (scale_micro, code_sum, code_max, err_micro), all
    * LONG, floor-scaled micros. Zero vectors quantize to all-zero. */
  case class VecQuantizeStats(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkArrayDouble(prettyName, Seq(child.dataType))
    override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("scale_micro",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("code_sum",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("code_max",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("err_micro",
        org.apache.spark.sql.types.LongType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vec_quantize_stats"

    override protected def nullSafeEval(a: Any): Any =
      VectorExpressions.quantizeStats(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.expressions.VectorExpressions$$.MODULE$$.quantizeStats($c)")

    override protected def withNewChildInternal(newChild: Expression): VecQuantizeStats =
      copy(child = newChild)
  }

  /** Runtime body of [[VecQuantizeStats]] — static so generated code
    * calls it directly. Fold order matches the HOF forms exactly
    * (ascending index, seed 0.0). */
  def quantizeStats(x: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = x.numElements()
    var maxAbs = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val v = java.lang.Math.abs(x.getDouble(i))
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    val s = maxAbs / 127.0
    var codeSum = 0.0
    var codeMax = Double.NegativeInfinity
    var errSum = 0.0
    i = 0
    while (i < n) {
      val v = x.getDouble(i)
      val c =
        if (s > 0.0)
          java.lang.Math.max(java.lang.Math.min(
            java.lang.Math.floor(v / s + 0.5), 127.0), -127.0)
        else 0.0
      codeSum += c
      if (c > codeMax) codeMax = c
      errSum += java.lang.Math.abs(v - c * s)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      java.lang.Math.floor(s * 1e6).toLong,
      codeSum.toLong,
      codeMax.toLong,
      java.lang.Math.floor(errSum * 1e6).toLong))
  }

  /** Natural log via the PLATFORM `java.lang.Math.log` — NOT Spark's
    * built-in `log`, which evaluates `StrictMath.log` (fdlibm) and
    * diverges from libm by 1 ULP on some inputs (measured: df=394 BM25
    * idf). DuckDB's `ln` is libm, and on this platform `Math.log`
    * matches libm bit-for-bit, so oracle-parity formulas that need a
    * logarithm (BM25 idf) must use this kernel. Same 1-ULP caveat as
    * every transcendental: the contract is platform parity, not
    * correctly-rounded math. */
  case class PlatformLn(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects DOUBLE, got ${child.dataType.catalogString}")
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "platform_ln"

    override protected def nullSafeEval(a: Any): Any =
      java.lang.Math.log(a.asInstanceOf[Double])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"java.lang.Math.log($c)")

    override protected def withNewChildInternal(newChild: Expression): PlatformLn =
      copy(child = newChild)
  }

  /** Fused sign-LSH bucketing: the per-band bucket ids
    * `bucket_b = Σ_j 2^j · [v · h_{(bandOffset+b)·bits+j} > 0]` for
    * `bands` consecutive bands, as ONE kernel returning `ARRAY<BIGINT>`.
    *
    * Bit-identical to the composed form ([[graft.operators.VectorSearch
    * .lshBucketBand]]'s bits× `vec_dot`-against-literal CASE sum, pinned
    * by LshKernelSpec): the plane weights are precomputed with the exact
    * [[graft.operators.VectorSearch.hyperplane]] arithmetic, each
    * projection is the same ascending-index left fold from 0.0, and the
    * bit tests accumulate in the same order — so every declared LSH row
    * hashes the same against its oracle.
    *
    * Why fused: the composed form inlines `bands × bits` dot loops into
    * one generated method. Past ~4 bands that method crosses HotSpot's
    * huge-method limit (8 KB bytecode, `-XX:+DontCompileHugeMethods` is
    * the JVM default) and the hottest loop of the ANN family runs in the
    * bytecode INTERPRETER — measured at sf10: the 8-band bits=12 corpus
    * bucketing took 76.3s composed vs 0.9s fused (and bands=4 alone
    * replayed 46.2s → 0.5s under `-XX:-DontCompileHugeMethods`,
    * confirming the cliff is JIT refusal, not the dots). This kernel
    * runs one small triple loop over a precomputed plane matrix, and
    * its generated code is one call into that loop — JIT-compiled at
    * any (bits, bands), no JVM flags required. */
  case class VecSignLshBuckets(child: Expression, dim: Int, bits: Int,
      bands: Int, bandOffset: Int) extends ArrayKernel {
    require(dim > 0 && bits > 0 && bits <= 62 && bands > 0 && bandOffset >= 0,
      s"vec_lsh_buckets: bad shape (dim=$dim bits=$bits bands=$bands offset=$bandOffset)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "vec_lsh_buckets"

    /** Flat plane matrix [band][bit][i] — the exact [[graft.operators
      * .VectorSearch.hyperplane]] doubles, so projections are
      * bit-identical to dots against the literal-array planes. */
    @transient private lazy val planes: Array[Double] = {
      val out = new Array[Double](bands * bits * dim)
      var b = 0
      while (b < bands) {
        var j = 0
        while (j < bits) {
          val p = (bandOffset + b) * bits + j
          var i = 0
          while (i < dim) {
            out((b * bits + j) * dim + i) =
              (((i + 1).toLong * (p + 1) * 7919L) % 193L).toDouble / 193.0 - 0.5
            i += 1
          }
          j += 1
        }
        b += 1
      }
      out
    }

    private[expressions] def kernel(x: ArrayData): ArrayData = {
      val vec = doubles(x, dim)
      val pl = planes
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var bucket = 0L
        var j = 0
        while (j < bits) {
          val base = (b * bits + j) * dim
          var acc = 0.0
          var i = 0
          while (i < dim) { acc += vec(i) * pl(base + i); i += 1 }
          if (acc > 0.0) bucket += (1L << j)
          j += 1
        }
        out(b) = bucket
        b += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Negated-score modes for [[VecNearestCentroids]] — which float
    * recipe fills the struct's `ns` field. Each replays the composed
    * `negate(metric.scorePrenormalized(v, c))` (or, for `EuclidDist`,
    * the raw PQ distance `d`) op-for-op, so results stay bit-identical
    * to the `array_min`/`sort_array`-over-structs form. */
  object CentroidScore {
    /** `ns = −(v·c)` — Cosine (prepared inputs) and Dot. */
    val Dot = "dot"
    /** `ns = −1/(1+√Σ(v−c)²)` — the Euclidean similarity. */
    val EuclidSim = "euclid_sim"
    /** `ns = √Σ(v−c)²` — raw distance, ascending (the PQ argmin form). */
    val EuclidDist = "euclid_dist"
    val all: Set[String] = Set(Dot, EuclidSim, EuclidDist)
  }

  /** Fused nearest-centroid selection: the `n` centroids nearest to the
    * input vector as `ARRAY<STRUCT<ns: DOUBLE, cid: BIGINT>>`, ascending
    * by `(ns, cid)` — exactly the first `n` elements of
    * `sort_array(array(struct(ns_0, cid_0), …, struct(ns_{c−1},
    * cid_{c−1})))`, which is what the composed IVF/PQ assign paths
    * compute ([[graft.operators.VectorSearch]]'s `centroidStructs` +
    * `array_min`/`sort_array`+`slice`; equality pinned by
    * LshKernelSpec).
    *
    * Why fused: the composed form inlines one score kernel PER centroid
    * into the generated method — at the self-sizing operating points
    * (c = 512 cells at sf10, ksub = 64 PQ codes) that is hundreds of
    * unrolled dot/distance loops, far past HotSpot's 8 KB huge-method
    * JIT limit, so the per-row assign runs interpreted (the same cliff
    * [[VecSignLshBuckets]] documents, measured there at ~90×). Here the
    * centroid matrix is ONE reference object and the scan is one small
    * JIT-able loop; selection keeps the `n` best in insertion-sorted
    * scratch arrays (n ≤ nProbes ≤ 4 in every caller).
    *
    * Ordering parity: ties on `ns` go to the lower cid (centroids are
    * scanned in the given order with strict-improvement updates, and
    * callers pass id-ascending centroid lists — the same tie the struct
    * comparator breaks). NaN scores never displace non-NaN entries
    * (Java `<` is false), matching NaN-sorts-last struct ordering. */
  case class VecNearestCentroids(child: Expression, mode: String,
      centroids: Seq[(Long, Seq[Double])], n: Int) extends ArrayKernel {
    require(CentroidScore.all.contains(mode),
      s"vec_nearest_centroids: unknown mode $mode")
    require(centroids.nonEmpty, "vec_nearest_centroids: empty centroid set")
    require(n > 0, s"vec_nearest_centroids: n must be positive, got $n")
    require(centroids.map(_._2.length).distinct.size == 1,
      "vec_nearest_centroids: ragged centroid dims")

    private val cdim = centroids.head._2.length
    private val m = math.min(n, centroids.size)

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("ns", DoubleType, nullable = false),
        StructField("cid", LongType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "vec_nearest_centroids"

    @transient private lazy val cents: Array[Double] = {
      val out = new Array[Double](centroids.size * cdim)
      var k = 0
      while (k < centroids.size) {
        val v = centroids(k)._2
        var i = 0
        while (i < cdim) { out(k * cdim + i) = v(i); i += 1 }
        k += 1
      }
      out
    }
    @transient private lazy val cids: Array[Long] = centroids.map(_._1).toArray

    private[expressions] def kernel(x: ArrayData): ArrayData = {
      val vec = doubles(x, cdim)
      val cs = cents
      val ids = cids
      val dotMode = mode == CentroidScore.Dot
      val distMode = mode == CentroidScore.EuclidDist
      val bestNs = Array.fill(m)(Double.PositiveInfinity)
      val bestCid = new Array[Long](m)
      var filled = 0
      var k = 0
      while (k < ids.length) {
        val base = k * cdim
        var ns = 0.0
        if (dotMode) {
          var acc = 0.0
          var i = 0
          while (i < cdim) { acc += vec(i) * cs(base + i); i += 1 }
          ns = -acc
        } else {
          var acc = 0.0
          var i = 0
          while (i < cdim) {
            val d = vec(i) - cs(base + i); acc += d * d; i += 1
          }
          val dist = math.sqrt(acc)
          ns = if (distMode) dist else -(1.0 / (1.0 + dist))
        }
        // insertion into the sorted scratch: strict improvement only, so
        // equal-ns later (higher-cid) centroids never displace earlier
        var pos = if (filled < m) filled else -1
        var t = (if (filled < m) filled else m) - 1
        while (t >= 0 && ns < bestNs(t)) { pos = t; t -= 1 }
        if (pos >= 0) {
          var s = math.min(filled, m - 1)
          while (s > pos) {
            bestNs(s) = bestNs(s - 1); bestCid(s) = bestCid(s - 1); s -= 1
          }
          bestNs(pos) = ns; bestCid(pos) = ids(k)
          if (filled < m) filled += 1
        }
        k += 1
      }
      val rows = new Array[Any](filled)
      var r = 0
      while (r < filled) {
        rows(r) = org.apache.spark.sql.catalyst.InternalRow(bestNs(r), bestCid(r))
        r += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Fused asymmetric-distance (ADC) score: `Σ_j dot(q_sub_j,
    * codebook_j[code_j])` over all `m` PQ subspaces as ONE kernel, the
    * sub-codes unpacked from the packed BIGINT (`code_j` in bits
    * `bits·j .. bits·j+bits−1`, [[graft.operators.VectorSearch
    * .pqEncode]]'s layout).
    *
    * Bit-identical to the composed form (m × `vec_dot(slice(q),
    * element_at(literal_codebook, code+1))` terms under a 0.0-seeded
    * left fold, pinned by LshKernelSpec): per subspace the same
    * ascending-index dot from 0.0, subspace partials added in the same
    * ascending-j order onto the same 0.0 seed — so every declared PQ
    * row hashes the same against its oracle.
    *
    * Why fused (the MIGRATION "Fused per-row kernels" rule — the ADC
    * tree grows with the tuning parameter m·ksub): the composed form
    * inlines m slice+dot+element_at trees into the SAME whole-stage
    * method as the m encode kernels below the serving join, and past
    * ksub≈16 that method crosses HotSpot's 8 KB huge-method limit and
    * runs INTERPRETED — measured at sf10 (200k codes, 32 cores): the
    * 8-term composed score took 67.1s vs 0.4s with
    * `-XX:-DontCompileHugeMethods`, a 167× JIT-refusal cliff, invisible
    * in plans and logs. This kernel reads the codebook matrix from ONE
    * reference object in a constant-size double loop, and its generated
    * code is one call into that loop — JIT-able at any (m, ksub, dim). */
  case class VecPqAdcScore(left: Expression, right: Expression,
      codebooks: Seq[Seq[(Int, Seq[Double])]]) extends BinaryExpression {
    require(codebooks.nonEmpty, "vec_pq_adc: empty codebook set")
    require(codebooks.map(_.length).distinct.size == 1,
      "vec_pq_adc: ragged codebook sizes")
    require(codebooks.flatMap(_.map(_._2.length)).distinct.size == 1,
      "vec_pq_adc: ragged subspace dims")
    // the kernel indexes the codebook matrix POSITIONALLY (cb[j][code])
    // while the pack side assigns codes from each entry's Int KEY — so
    // the flat-matrix build below sorts each subspace by key first
    // (honoring the documented keyed (code, centroid) contract on
    // pqSearch/ivfPqSearchIndexed: caller ORDER is immaterial) and only
    // gapped or duplicated keys — which no sort can repair and WOULD
    // misindex silently — are a loud construction-time failure (ADVICE
    // r14/r15)
    require(codebooks.forall(b => b.map(_._1).sorted == b.indices),
      "vec_pq_adc: codebook codes must be exactly 0..ksub-1 per subspace " +
        "(keyed entries may arrive in any order; gaps/duplicates misindex)")

    private val m = codebooks.length
    private val ksub = codebooks.head.length
    private val sdim = codebooks.head.head._2.length
    /** Packed sub-code width — [[packedCodeBits]], the one shared rule. */
    private val bits = packedCodeBits(ksub)
    private val mask = (1L << bits) - 1
    require(m * bits <= 64, s"vec_pq_adc: $m × $bits-bit codes overflow one BIGINT")

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType.isInstanceOf[ArrayType] &&
          checkArrayDouble(prettyName, Seq(left.dataType)) ==
            TypeCheckResult.TypeCheckSuccess &&
          right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<DOUBLE>, BIGINT), got " +
          s"${left.dataType}, ${right.dataType}")
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "vec_pq_adc"

    /** Flat codebook matrix [j][code][i] — codebook entries laid out in
      * (subspace, code) order so the inner dot is a contiguous read. */
    @transient private lazy val cb: Array[Double] = {
      val out = new Array[Double](m * ksub * sdim)
      var j = 0
      while (j < m) {
        val entries = codebooks(j).sortBy(_._1)
        var c = 0
        while (c < ksub) {
          val v = entries(c)._2
          var i = 0
          while (i < sdim) { out((j * ksub + c) * sdim + i) = v(i); i += 1 }
          c += 1
        }
        j += 1
      }
      out
    }

    private[expressions] def kernel(x: ArrayData, packed: Long): Double = {
      val n = x.numElements()
      if (n != m * sdim) lengthMismatch(prettyName, n, m * sdim)
      val g = mayContainNull(left.dataType)
      val book = cb
      var total = 0.0
      var j = 0
      while (j < m) {
        val code = (packed >>> (bits * j)) & mask
        if (code >= ksub)
          throw new IllegalArgumentException(
            s"$prettyName: sub-code $code out of range (ksub=$ksub)")
        val base = (j * ksub + code.toInt) * sdim
        var sub = 0.0
        var i = 0
        while (i < sdim) {
          if (g && x.isNullAt(j * sdim + i)) nullElement(prettyName, j * sdim + i)
          sub += x.getDouble(j * sdim + i) * book(base + i)
          i += 1
        }
        total += sub
        j += 1
      }
      total
    }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val k = ctx.addReferenceObj("kernel", this)
      defineCodeGen(ctx, ev, (x, packed) => s"$k.kernel($x, $packed)")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // ------------------------------------------------------ Column surface ---

  def platformLn(x: Column): Column =
    ColumnGlue.column(PlatformLn(ColumnGlue.expression(x)))

  def dot(a: Column, b: Column): Column =
    ColumnGlue.column(VecDot(ColumnGlue.expression(a), ColumnGlue.expression(b)))

  def l2Normalize(v: Column): Column =
    ColumnGlue.column(VecL2Normalize(ColumnGlue.expression(v)))

  def cosine(a: Column, b: Column): Column =
    ColumnGlue.column(VecCosine(ColumnGlue.expression(a), ColumnGlue.expression(b)))

  def euclideanDistance(a: Column, b: Column): Column =
    ColumnGlue.column(
      VecEuclideanDistance(ColumnGlue.expression(a), ColumnGlue.expression(b)))

  def quantizeStatsCol(v: Column): Column =
    ColumnGlue.column(VecQuantizeStats(ColumnGlue.expression(v)))

  def signLshBuckets(v: Column, dim: Int, bits: Int, bands: Int,
      bandOffset: Int = 0): Column =
    ColumnGlue.column(
      VecSignLshBuckets(ColumnGlue.expression(v), dim, bits, bands, bandOffset))

  def nearestCentroids(v: Column, mode: String,
      centroids: Seq[(Long, Seq[Double])], n: Int): Column =
    ColumnGlue.column(
      VecNearestCentroids(ColumnGlue.expression(v), mode, centroids, n))

  def pqAdcScore(q: Column, packedCode: Column,
      codebooks: Seq[Seq[(Int, Seq[Double])]]): Column =
    ColumnGlue.column(VecPqAdcScore(
      ColumnGlue.expression(q), ColumnGlue.expression(packedCode), codebooks))
}
