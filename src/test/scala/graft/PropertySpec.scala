package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.VectorFunctions
import graft.operators.{Temporal, TextOps}

/** Generator-driven properties (SURVEY §5.3) — ScalaCheck `Gen` with a
  * FIXED seed produces adversarial-but-reproducible inputs (zeros,
  * denormals, unicode, pathological spacing), evaluated in one Spark
  * job per property instead of one per sample. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Materialize `n` samples of `g` deterministically. */
  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    LazyList.iterate(Seed(seed))(_.next).take(n)
      .flatMap(s => g.apply(Gen.Parameters.default, s)).toList

  private val vecGen: Gen[Seq[Double]] = for {
    dim <- Gen.choose(1, 96)
    mag <- Gen.oneOf(0.0, 1e-12, 1.0, 1e6)
    vs <- Gen.listOfN(dim, Gen.choose(-1.0, 1.0))
  } yield vs.map(_ * mag)

  test("cosine self-similarity ~ 1 for non-zero vectors; range bounded; normalize idempotent") {
    val vecs = samples(vecGen, 120, 7L).map(_.toArray)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val checked = df.select(
      col("id"),
      sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)).as("norm"),
      VectorFunctions.cosine(col("v"), col("v")).as("selfcos"),
      VectorFunctions.l2Normalize(col("v")).as("n1"),
      VectorFunctions.l2Normalize(VectorFunctions.l2Normalize(col("v"))).as("n2"))
    val rows = checked.collect()
    rows.foreach { r =>
      val (norm, selfcos) = (r.getDouble(1), r.getDouble(2))
      if (norm > 1e-6)
        assert(math.abs(selfcos - 1.0) < 1e-9, s"self-cos $selfcos at norm $norm")
      assert(selfcos <= 1.0 + 1e-9 && selfcos >= -1.0 - 1e-9)
      // the 1e-12 eps guard deliberately damps near-zero vectors, so
      // idempotence only holds where the norm dwarfs the eps
      if (norm > 1e-6) {
        val n1 = r.getSeq[Double](3)
        val n2 = r.getSeq[Double](4)
        n1.zip(n2).foreach { case (a, b) =>
          assert(math.abs(a - b) <= 1e-9, "normalize not idempotent")
        }
      }
    }
  }

  test("euclidean similarity in (0, 1] and symmetric on generated pairs") {
    val vecs = samples(for {
      vs <- Gen.listOfN(32, Gen.choose(-100.0, 100.0))
    } yield vs, 100, 11L)
    val df = vecs.grouped(2).collect { case Seq(a, b) => (a.toArray, b.toArray) }
      .toSeq.toDF("a", "b")
    val sim = (d: org.apache.spark.sql.Column) => lit(1.0) / (lit(1.0) + d)
    val rows = df.select(
      sim(VectorFunctions.euclideanDistance(col("a"), col("b"))).as("sab"),
      sim(VectorFunctions.euclideanDistance(col("b"), col("a"))).as("sba"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) > 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(0) == r.getDouble(1), "euclidean not symmetric")
    }
  }

  test("rangeJoin == naive theta-join on generated interval sets (width 1..max)") {
    val ptsGen = Gen.listOfN(150, Gen.choose(-500L, 500L))
    val ivGen = Gen.listOfN(60, for {
      lo <- Gen.choose(-520L, 520L)
      len <- Gen.choose(-5L, 40L) // negative => inverted interval
    } yield (lo, lo + len))
    for ((seed, width) <- Seq((3L, 1L), (5L, 7L), (9L, 64L))) {
      val pts = samples(ptsGen, 1, seed).head.zipWithIndex
        .map { case (p, i) => (p, i.toLong) }.toDF("pt", "pid")
      val ivs = samples(ivGen, 1, seed + 100).head.zipWithIndex
        .map { case ((lo, hi), i) => (lo, hi, i.toLong) }.toDF("lo", "hi", "iid")
      val naive = pts.join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"))
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      val got = Temporal.rangeJoin(pts, "pt", ivs, "lo", "hi", width)
        .select("pid", "iid").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"duplicate pairs at width $width")
      assert(got.toSet == naive, s"mismatch at width $width seed $seed")
    }
  }

  test("rangeJoin == overlapJoin of the points [pt, pt] on generated sets (widths 1, 7, 64)") {
    val ptsGen = Gen.listOfN(150, Gen.choose(-500L, 500L))
    val ivGen = Gen.listOfN(60, for {
      lo <- Gen.choose(-520L, 520L)
      len <- Gen.choose(-5L, 40L) // negative => inverted interval
    } yield (lo, lo + len))
    for ((seed, width) <- Seq((31L, 1L), (37L, 7L), (41L, 64L))) {
      val pts = samples(ptsGen, 1, seed).head.zipWithIndex
        .map { case (p, i) => (p, i.toLong) }.toDF("pt", "pid")
      val ivs = samples(ivGen, 1, seed + 100).head.zipWithIndex
        .map { case ((lo, hi), i) => (lo, hi, i.toLong) }.toDF("lo", "hi", "iid")
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        df.select("pid", "iid").as[(Long, Long)].collect().toSeq
      val range = rows(Temporal.rangeJoin(pts, "pt", ivs, "lo", "hi", width))
      val overlap = rows(Temporal.overlapJoin(pts, "pt", "pt", ivs, "lo", "hi", width))
      assert(range.length == range.toSet.size, s"duplicate range pairs at width $width")
      assert(overlap.length == overlap.toSet.size, s"duplicate overlap pairs at width $width")
      assert(range.toSet.nonEmpty && range.toSet == overlap.toSet, s"mismatch at width $width seed $seed")
    }
  }

  test("overlapJoin == naive theta-join on generated interval sets (ownership dedup at every width)") {
    val ivGen = (n: Int, span: Long) => Gen.listOfN(n, for {
      lo <- Gen.choose(-span, span)
      len <- Gen.choose(-6L, 50L) // negative => inverted interval
    } yield (lo, lo + len))
    for ((seed, width) <- Seq((13L, 1L), (17L, 9L), (23L, 128L))) {
      val as = samples(ivGen(70, 400L), 1, seed).head.zipWithIndex
        .map { case ((lo, hi), i) => (lo, hi, i.toLong) }.toDF("a_lo", "a_hi", "aid")
      val bs = samples(ivGen(90, 430L), 1, seed + 1000).head.zipWithIndex
        .map { case ((lo, hi), i) => (lo, hi, i.toLong) }.toDF("b_lo", "b_hi", "bid")
      // the naive model runs on VALID intervals only: the raw theta
      // predicate `a.lo <= b.hi AND b.lo <= a.hi` is satisfiable by an
      // INVERTED interval nested inside the other side (e.g. a=[10,4]
      // vs b=[0,20]), but the operator's documented semantics drop
      // inverted rows — they denote empty intervals, which overlap
      // nothing (this property caught exactly that divergence when the
      // model ran unfiltered)
      val naive = as.filter(col("a_lo") <= col("a_hi"))
        .join(bs.filter(col("b_lo") <= col("b_hi")),
          col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
        .select("aid", "bid").as[(Long, Long)].collect().toSet
      // the operator sees the UNFILTERED frames — inverted rows must
      // die inside it, not in test preprocessing
      val got = Temporal.overlapJoin(as, "a_lo", "a_hi", bs, "b_lo", "b_hi", width)
        .select("aid", "bid").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"duplicate pairs at width $width seed $seed")
      assert(got.toSet == naive, s"mismatch at width $width seed $seed")
    }
  }

  test("chunk reassembly: concat(chunks) == text for generated unicode strings") {
    val textGen = for {
      n <- Gen.choose(0, 900)
      cs <- Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumChar, Gen.const(' '), Gen.const('好'), Gen.const('م'),
        Gen.const('\n'), Gen.const('é')))
    } yield cs.mkString
    val texts = samples(textGen, 60, 13L)
    for (chunkSize <- Seq(1, 7, 300)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val rows = df.select(col("id"), col("text"),
        concat_ws("", TextOps.chunk(col("text"), chunkSize)).as("re"),
        size(TextOps.chunk(col("text"), chunkSize)).as("n"))
        .collect()
      rows.foreach { r =>
        assert(r.getString(2) == r.getString(1), s"reassembly broke at cs=$chunkSize")
        val expected = math.max(math.ceil(r.getString(1).length.toDouble / chunkSize).toInt, 1)
        assert(r.getInt(3) == expected, s"chunk count at cs=$chunkSize")
      }
    }
  }

  test("repetition kernel matches the regex model on generated spacing pathologies") {
    val tokGen = Gen.oneOf("a", "bb", "ccc", "的", "x1", "")
    val textGen = for {
      n <- Gen.choose(0, 30)
      toks <- Gen.listOfN(n, tokGen)
      sep <- Gen.oneOf(" ", "  ", "   ")
    } yield toks.mkString(sep)
    val texts = samples(textGen, 80, 17L)
    def model(text: String): (Long, Long, Long, Long) = {
      val toks = text.trim.split(" +", -1).toSeq
      val n = toks.length
      val bigrams = if (n >= 2) toks.sliding(2).map(_.mkString(" ")).toSeq else Seq.empty
      val top = toks.groupBy(identity).values.map(_.size).max
      (n.toLong, bigrams.length.toLong, bigrams.distinct.length.toLong, top.toLong)
    }
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), col("text"),
        graft.expressions.TextExpressions.repetitionStats(col("text")).as("s"))
      .select(col("text"), col("s.n_tokens"), col("s.n_bigrams"),
        col("s.n_distinct_bigrams"), col("s.top_token_n"))
      .collect()
    rows.foreach { r =>
      val got = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(got == model(r.getString(0)), s"mismatch on '${r.getString(0)}'")
    }
  }

  /** Generated corpora for the round-5 dedup/packing properties: short
    * alphabets force segment collisions; unicode and blanks probe the
    * boundary rules. */
  private val docGen: Gen[String] = for {
    len <- Gen.choose(0, 120)
    cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', ' ', 'µ', '中'))
  } yield cs.mkString

  test("segmentDedup conservation laws on generated corpora") {
    val texts = samples(docGen, 80, 23L)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val segSize = 5
    val out = TextOps.segmentDedup(df, "doc_id", "text", segSize).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // 1. each surviving doc's kept_chars == length of its reassembled text
    out.foreach { case (id, (_, chars, text)) =>
      assert(chars == text.length, s"doc $id: chars $chars != len ${text.length}")
    }
    // 2. kept never exceeds the original; doc 0 (first) is fully intact
    val orig = texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap
    out.foreach { case (id, (_, chars, _)) =>
      assert(chars <= math.max(orig(id).length, 1))
    }
    assert(out(0L)._3 == (if (orig(0L).isEmpty) "" else orig(0L)),
      "the first document must survive unmodified")
    // 3. kept segments across the corpus == distinct segments in it
    // (each distinct segment survives exactly once — its first
    // occurrence; per-doc model parity lives in CorpusOpsSpec)
    def segs(t: String) = if (t.isEmpty) Seq("") else t.grouped(segSize).toSeq
    val distinctIn = texts.flatMap(segs).toSet
    val totalKept = out.values.map(_._1).sum
    assert(totalKept == distinctIn.size,
      s"kept segments $totalKept != distinct segments ${distinctIn.size}")
  }

  test("scrubFrequentSegments + segmentDedup conservation on generated corpora") {
    val texts = samples(docGen, 80, 31L)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val segSize = 5
    val minDf = 2
    def segs(t: String) = if (t.isEmpty) Seq("") else t.grouped(segSize).toSeq
    val dfOf = texts.zipWithIndex
      .flatMap { case (t, i) => segs(t).distinct.map(_ -> i) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val out = TextOps.scrubFrequentSegments(df, "doc_id", "text", segSize, minDf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(3))).toMap
    // kept segments corpus-wide == occurrences of below-threshold segments
    val expKept = texts.flatMap(segs).count(s => dfOf(s) < minDf).toLong
    assert(out.values.map(_._1).sum == expKept)
    // a doc made entirely of frequent segments is absent, never empty-but-present
    out.foreach { case (id, (k, text)) =>
      assert(k > 0 && (text.nonEmpty || segs(texts(id.toInt)).contains("")),
        s"doc $id survived with no content")
    }
  }

  test("reservoirSample invariants on generated group layouts") {
    val rowGen = for {
      g <- Gen.choose(0, 5)
      id <- Gen.choose(0L, 100000L)
    } yield (id, s"g$g")
    val rows = samples(rowGen, 300, 37L).distinctBy(_._1)
    val df = rows.toDF("id", "grp")
    val n = 7
    val out = graft.operators.Splits.reservoirSample(df, "id", "grp", "pp", n)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byGroup = rows.groupBy(_._2).view.mapValues(_.size).toMap
    val gotByGroup = out.groupBy(_._2)
    // exact-N (or whole group), contiguous ranks, sample ⊆ input
    gotByGroup.foreach { case (g, picked) =>
      assert(picked.length == math.min(n, byGroup(g)), s"group $g size off")
      assert(picked.map(_._3).sorted.toSeq == (1L to picked.length), s"group $g ranks")
    }
    assert(out.map(r => (r._1, r._2)).toSet.subsetOf(rows.toSet))
    // groups with any rows are all represented
    assert(gotByGroup.keySet == byGroup.keySet)
  }

  test("packingStats conserves docs and tokens over generated corpora") {
    val texts = samples(docGen, 60, 29L).filter(_.nonEmpty)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val ctx = 16
    val out = graft.operators.Packing.packingStats(df, "doc_id", "text", "pp", 4, ctx)
      .collect()
    val nDocs = out.map(_.getLong(1)).sum
    val totTok = out.map(_.getLong(2)).sum
    val expTok = texts.map(t => math.max(t.trim.split(" +").length, 1).toLong).sum
    assert(nDocs == texts.size.toLong)
    assert(totTok == expTok, s"token totals drifted: $totTok != $expTok")
    out.foreach { r =>
      val (tot, nSeq, waste) = (r.getLong(2), r.getLong(3), r.getLong(5))
      assert(nSeq == (tot + ctx - 1) / ctx)
      assert(waste >= 0 && waste < ctx)
    }
  }

  test("Budget.runningSum/domainBudget == naive windows on adversarial id/weight distributions") {
    import org.apache.spark.sql.expressions.Window
    // sparse huge ids mixed with dense small ones, zero / small / huge
    // weights, few groups (the skew case the bucketing must survive)
    val rowGen: Gen[(Long, Int, Long)] = for {
      id <- Gen.oneOf(Gen.choose(0L, 200L), Gen.choose(0L, (1L << 40) - 1))
      grp <- Gen.choose(0, 3)
      w <- Gen.oneOf(Gen.const(0L), Gen.choose(0L, 100L), Gen.choose(0L, 1L << 40))
    } yield (id, grp, w)
    val rows = samples(rowGen, 300, 13L)
      .groupBy { case (id, g, _) => (g, id) }.values.map(_.head).toSeq
    val df = rows.toDF("id", "grp", "w")
    val naiveW = Window.partitionBy("grp").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.withColumn("cum", sum("w").over(naiveW))
      .select("grp", "id", "cum").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (width <- Seq(1L << 1, 1L << 13, 1L << 39)) {
      val got = graft.operators.Budget
        .runningSum(df, Seq("grp"), "id", "w", width, "cum")
        .select("grp", "id", "cum").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == naive, s"runningSum diverged at bucketWidth=$width")
    }
    for (budget <- Seq(0L, 1L << 20, 1L << 41, Long.MaxValue / 2)) {
      val expect = naive.filter(_._2 <= budget).keySet
      val got = graft.operators.Budget
        .domainBudget(df, Seq("grp"), "id", "w", budget, 1L << 13)
        .select("grp", "id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(got == expect, s"domainBudget diverged at budget=$budget")
    }
  }

  test("sharedRuns equals the brute-force longest common token substring") {
    // small alphabet forces genuine overlaps; docs short enough for an
    // O(n·m) DP oracle per pair. maxDocFreq is lifted so the df bound
    // never hides a true LCS from the comparison.
    val docGen = for {
      n <- Gen.choose(1, 40)
      ts <- Gen.listOfN(n, Gen.choose(0, 6).map(i => s"t$i"))
    } yield ts
    val docsSeq = samples(docGen, 14, 99L)
    val k = 4
    val df = docsSeq.zipWithIndex
      .map { case (ts, i) => ((i + 1).toLong, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = graft.operators.Sketches
      .sharedRuns(df, "doc_id", "text", k, maxDocFreq = 100)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))
        -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    def lcs(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      var best = 0
      for (i <- 1 to a.length; j <- 1 to b.length)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          if (dp(i)(j) > best) best = dp(i)(j)
        }
      best
    }
    val byId = docsSeq.zipWithIndex.map { case (ts, i) => (i + 1).toLong -> ts }.toMap
    for (aId <- byId.keys; bId <- byId.keys if aId < bId) {
      val l = lcs(byId(aId), byId(bId))
      got.get((aId, bId)) match {
        case Some((span, aStart, bStart)) =>
          assert(l >= k, s"pair ($aId,$bId) reported but LCS $l < $k")
          assert(span == l, s"pair ($aId,$bId): span $span != LCS $l")
          // the reported window is a REAL shared occurrence
          assert(byId(aId).slice(aStart.toInt, (aStart + span).toInt)
            == byId(bId).slice(bStart.toInt, (bStart + span).toInt),
            s"pair ($aId,$bId): reported span is not a shared substring")
        case None =>
          assert(l < k, s"pair ($aId,$bId) absent but LCS $l >= $k")
      }
    }
  }
}
