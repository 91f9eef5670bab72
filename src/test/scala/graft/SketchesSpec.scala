package graft

import org.apache.spark.sql.functions._

import graft.operators.{Sketches, TextOps}

/** Sketch semantics: minhash containment behavior on known near-dups,
  * simhash bit-distance on perturbed texts, quality metric sanity. */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  // hand corpus: 1≈2 near-dups (one char changed mid-text → only ~k of the
  // ~190 char-shingles differ, Jaccard ≈ 0.92 — a real near-dup, so the
  // expected band-collision probability is ≥ 0.999 rather than a seed
  // lottery), 3 unrelated
  private lazy val nearDupBase =
    "the quick brown fox jumps over the lazy dog again and again today " +
      "while the river runs slowly past the old stone mill and the wheat " +
      "fields stretch golden toward the far horizon under a pale sky"
  private lazy val corpus = Seq(
    (1L, nearDupBase),
    (2L, nearDupBase.replace("dog", "dig")),
    (3L, "completely different content about spark query engines and shuffles"))
    .toDF("doc_id", "text").cache()

  test("minhash candidates surface the near-dup pair, not the unrelated one") {
    val cand = Sketches.minhashCandidates(corpus, "doc_id", "text",
      k = 8, m = 16, bands = 4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)), s"near-dup pair missing from $cand")
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)),
      s"unrelated pair surfaced: $cand")
  }

  test("bucket cap drops the over-dense bucket's pairs, keeps organic near-dups") {
    // 6 exact copies of one template collide on every band → every bucket
    // they occupy has size ≥ 6; the organic near-dup pair (1,2) lives in
    // size-2 buckets and must survive the cap
    val boiler = (10L to 15L).map(i =>
      (i, "standard site boilerplate footer text repeated across every page " +
        "of the template with identical navigation and copyright lines"))
    val mixed = (corpus.as[(Long, String)].collect().toSeq ++ boiler)
      .toDF("doc_id", "text")
    val capped = Sketches.minhashCandidatesCapped(mixed, "doc_id", "text",
      k = 8, m = 16, bands = 4, maxBucket = 5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)), s"organic near-dup pair missing from $capped")
    assert(!capped.exists { case (a, b) => a >= 10L && b >= 10L },
      s"over-dense bucket pairs leaked through the cap: $capped")
    // with a permissive cap the result equals the uncapped operator
    val uncapped = Sketches.minhashCandidates(mixed, "doc_id", "text",
      k = 8, m = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wide = Sketches.minhashCandidatesCapped(mixed, "doc_id", "text",
      k = 8, m = 16, bands = 4, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(wide == uncapped, "permissive cap must be a no-op")
  }

  test("bandSelfPairs skew-split emits exactly the naive self-join multiset " +
      "(hot bucket above SaltBucketRows, carry columns aligned)") {
    // synthetic band-key table: one HOT bucket (1100 ids > SaltBucketRows
    // = 1024 → G = 2, exercising a diagonal cell AND an off-diagonal
    // cell), two organic buckets, and a second band re-bucketing the hot
    // ids so some pairs share 2 bands (multiplicity must survive).
    val hot = (0L until 1100L).map(i => (i, 0, "hot"))
    val organic = Seq((1L, 1, "x"), (2L, 1, "x"), (3L, 1, "x"),
      (200L, 1, "y"), (201L, 1, "y"))
    val second = (0L until 64L).map(i => (i, 1, "z"))
    val bk = (hot ++ organic ++ second)
      .toDF("doc_id", "band", "band_key")
      // carry column derived from the id so swaps are detectable
      .withColumn("n_shingles", col("doc_id") * 10 + 7)
    def counted(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("a_id", "b_id").agg(count(lit(1)).as("n"))
    val naive = counted(
      bk.select(col("doc_id").as("a_id"), col("band"), col("band_key"))
        .join(bk.select(col("doc_id").as("b_id"), col("band"), col("band_key")),
          Seq("band", "band_key"))
        .filter(col("a_id") < col("b_id")))
    val salted = Sketches.bandSelfPairs(bk, "doc_id", carry = Seq("n_shingles"))
    // multiset equality of (a_id, b_id) with per-pair band counts
    val saltedCounted = counted(salted)
    assert(naive.except(saltedCounted).isEmpty && saltedCounted.except(naive).isEmpty,
      "salted pair multiset differs from the naive self-join")
    // ordering and carry alignment: a < b always, carries follow their id
    assert(salted.filter(col("a_id") >= col("b_id")).count() == 0)
    assert(salted.filter(col("a_n_shingles") =!= col("a_id") * 10 + 7).count() == 0)
    assert(salted.filter(col("b_n_shingles") =!= col("b_id") * 10 + 7).count() == 0)
  }

  test("minhash signature is invariant to shingle order/partitioning") {
    val s1 = Sketches.minhashSignature(corpus, "doc_id", "text", 8, 16)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val s2 = Sketches.minhashSignature(corpus.repartition(3), "doc_id", "text", 8, 16)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(s1 == s2)
  }

  test("simhash: near-dups differ in few bits, unrelated docs in many") {
    val sh = Sketches.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = hamming(sh(1L), sh(2L))
    val far = math.min(hamming(sh(1L), sh(3L)), hamming(sh(2L), sh(3L)))
    info(s"hamming near=$near far=$far")
    assert(near < far, s"simhash failed to separate: near=$near far=$far")
  }

  test("quality metrics: ratios in range, flag consistent with rule") {
    val q = TextOps.qualityMetrics(Tables.documents(spark, Sf0001),
      "doc_id", "text", "n_chars")
    val bad = q.filter(
      col("alpha_ratio") < 0 || col("alpha_ratio") > 1 ||
        col("stop_ratio") < 0 || col("stop_ratio") > 1 ||
        col("mean_token_len") <= 0).count()
    assert(bad == 0)
    val flagged = q.filter(col("quality_ok") === 1).count()
    assert(flagged > 0, "no doc passed the quality gate — rule too strict")
  }

  test("dedupExact keeps exactly one row (min id) per distinct text") {
    val dups = Seq(
      (5L, "same text"), (2L, "same text"), (9L, "same text"),
      (3L, "other text")).toDF("doc_id", "text")
    val kept = TextOps.dedupExact(dups, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"kept $kept")
  }

  test("langId picks the profile with the most marker hits") {
    val hand = Seq(
      (1L, "der hund und die katze ist da"),
      (2L, "the cat is on a mat of straw"),
      (3L, "le chat et la souris est les amis")).toDF("doc_id", "text")
    val pred = TextOps.langId(hand, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred == Map(1L -> "de", 2L -> "en", 3L -> "fr"), s"got $pred")
  }

  test("repetition metrics: degenerate loop text scores high, varied text low") {
    val hand = Seq(
      (1L, "spam spam spam spam spam spam"),     // 1 distinct bigram of 5
      (2L, "one two three four five six seven"), // all bigrams distinct
      (3L, "solo"))                               // single token: no bigrams
      .toDF("doc_id", "text")
    val m = TextOps.repetitionMetrics(hand, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6)))).toMap
    // doc 1: 5 bigrams, 1 distinct -> dup 800 milli; top token 6/6 = 1000
    assert(m(1L) == ((5L, 1L, 800L, 1000L)), s"got ${m(1L)}")
    // doc 2: 6 bigrams all distinct -> dup 0; top token 1/7 = 142
    assert(m(2L) == ((6L, 6L, 0L, 142L)), s"got ${m(2L)}")
    // doc 3: no bigrams, fraction 0 (not a division error)
    assert(m(3L) == ((0L, 0L, 0L, 1000L)), s"got ${m(3L)}")
  }

  test("contamination: test docs sharing k-shingles with train are flagged, clean docs are not") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val test = Seq(
      (10L, "xx quick brown fox yy"),  // shares "quick brown fox" 8-shingles with train 1
      (11L, "zzzz completely unrelated wording qqqq"))
      .toDF("doc_id", "text")
    val m = Sketches.contamination(train, test, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(m(10L)._1 > 0 && m(10L)._2 == 1, s"leaked doc not flagged: ${m(10L)}")
    assert(m(11L) == ((0L, 0)), s"clean doc flagged: ${m(11L)}")
  }

  test("winnowing: shared substring >= k+w-1 guarantees a shared fingerprint hash") {
    val k = 8; val w = 8
    // docs 1 and 2 share a 40-char substring (>= k+w-1 = 15); doc 3 shares
    // nothing 8 chars long with either
    val shared = "zzz unique shared span qqqq xxxx yyyy ww"
    val hand = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"totally other beginning $shared and another tail"),
      (3L, "no overlap here at all, different characters entirely"))
      .toDF("doc_id", "text")
    val fp = Sketches.fingerprint(hand, "doc_id", "text", k, w)
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "winnowing guarantee violated: shared 40-char span produced no shared hash")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty,
      "unrelated docs share a fingerprint hash (possible but ~impossible at 60-bit hashes)")
  }

  test("winnowing property: planted shared substrings always share a hash (seeded random corpus)") {
    val k = 8; val w = 8
    val rnd = new scala.util.Random(42)
    def randText(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // 20 pairs: random texts with a planted shared span of exactly k+w-1
    // (the guarantee's minimum), at random offsets
    val rows = (0 until 20).flatMap { i =>
      val span = randText(k + w - 1)
      val a = randText(rnd.nextInt(60)) + span + randText(rnd.nextInt(60))
      val b = randText(rnd.nextInt(60)) + span + randText(rnd.nextInt(60))
      Seq((i * 2L, a), (i * 2L + 1, b))
    }
    val fp = Sketches.fingerprint(
      rows.toDF("doc_id", "text"), "doc_id", "text", k, w)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    (0 until 20).foreach { i =>
      val shared = fp(i * 2L) intersect fp(i * 2L + 1)
      assert(shared.nonEmpty, s"pair $i shares a ${k + w - 1}-char span but no fingerprint")
    }
  }

  test("winnowing density is ~2/(w+1) and selection is deterministic") {
    val docs = Tables.documents(spark, Sf0001).limit(50).cache()
    val fp = Sketches.fingerprint(docs, "doc_id", "text", 8, 8)
    val nGrams = docs.select(sum(greatest(length(col("text")) - 7, lit(1)))).collect()(0).getLong(0)
    val density = fp.count().toDouble / nGrams
    info(f"winnowing density: $density%.3f (theory ~${2.0 / 9}%.3f)")
    assert(density > 0.1 && density < 0.4, f"density out of range: $density%.3f")
    // determinism across partitioning
    val fp2 = Sketches.fingerprint(docs.repartition(7), "doc_id", "text", 8, 8)
    assert(fp.collect().map(_.toSeq).toSet == fp2.collect().map(_.toSeq).toSet)
  }

  test("fingerprint rejects a window w < 2 up front") {
    intercept[IllegalArgumentException] {
      Sketches.fingerprint(corpus, "doc_id", "text", k = 8, w = 1)
    }
  }

  test("minhash candidates reject a band count that does not divide m") {
    // bands > m leaves every band empty (every pair a candidate); a
    // remainder silently drops the trailing hashes
    for ((m, bands) <- Seq((16, 32), (16, 5))) {
      intercept[IllegalArgumentException] {
        Sketches.minhashCandidates(corpus, "doc_id", "text", k = 8, m = m, bands = bands)
      }
      intercept[IllegalArgumentException] {
        Sketches.minhashCandidatesCapped(corpus, "doc_id", "text",
          k = 8, m = m, bands = bands, maxBucket = 5)
      }
    }
    intercept[IllegalArgumentException] {
      Sketches.minhashBands(Sketches.minhashSignature(corpus, "doc_id", "text", 8, 16),
        "doc_id", bands = 32, rowsPerBand = 0)
    }
  }

  test("md5Long and shingleHash match the DuckDB golden values") {
    // expected: DuckDB `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`
    // (and that mod 2^31-1), equal to Python
    // `int(hashlib.md5(s.encode()).hexdigest()[:15], 16)`; the Arabic
    // string pins hashing over UTF-8 bytes
    val golden = Seq(
      ("", 955282973525019424L, 863222971L),
      ("hello wo", 453273272083690518L, 1028581213L),
      ("قاعدة بيانات", 326785957501531743L, 1535699600L))
    val got = golden.map(_._1).toDF("s")
      .select(col("s"), Sketches.md5Long(col("s")), Sketches.shingleHash(col("s")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.sortBy(_._1) == golden.sortBy(_._1))
  }

  test("fingerprintPairs surfaces the near-dup pair and only it") {
    // docs 1 and 2 share long substrings (one char differs); 3 is unrelated
    val pairs = Sketches.fingerprintPairs(corpus, "doc_id", "text",
      k = 8, w = 8, minShared = 3, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"expected exactly the near-dup pair, got ${pairs.toSeq}")
    assert(pairs.head._3 >= 3)
  }

  test("fingerprintPairs drops boilerplate fingerprints above the doc-freq cap") {
    // 6 docs all sharing one boilerplate sentence: every cross pair would
    // survive without the cap; with maxDocFreq=5 the shared hashes (df=6)
    // are dropped and nothing pairs
    val boiler = "subscribe to our newsletter for updates every single day"
    val docs = (1L to 6L).map(i => (i, s"unique lead $i%02d then $boiler"))
      .toDF("doc_id", "text")
    val pairs = Sketches.fingerprintPairs(docs, "doc_id", "text",
      k = 8, w = 8, minShared = 2, maxDocFreq = 5)
    assert(pairs.count() == 0, "boilerplate-only overlap must not pair")
  }

  test("merged HLL sketches track the exact distinct within tolerance") {
    val docs = Tables.documents(spark, Sf0001).cache()
    val merged = Sketches.mergedDistinct(docs, "lang", "source", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = docs.groupBy("lang").agg(countDistinct("text").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet == exact.keySet)
    for ((lang, ex) <- exact) {
      val est = merged(lang)
      assert(math.abs(est - ex) <= ex * 0.05 + 1,
        s"$lang: merged estimate $est vs exact $ex")
    }
  }

  test("sketch union over sub-groups equals the single-pass sketch (merge correctness)") {
    val docs = Tables.documents(spark, Sf0001)
    val viaMerge = Sketches.mergedDistinct(docs, "lang", "source", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = docs.groupBy("lang")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("text"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaMerge == direct,
      s"union-of-partials diverged from single-pass: $viaMerge vs $direct")
  }

  test("sketch rows survive a parquet round-trip and still merge exactly") {
    val docs = Tables.documents(spark, Sf0001)
    val path = Tables.scratchPath("sketch_rt")
    Sketches.sketchPerSub(docs, "lang", "source", "text")
      .write.mode("overwrite").parquet(path)
    val reloaded = spark.read.parquet(path)
      .groupBy("lang")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_estimate"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Sketches.mergedDistinct(docs, "lang", "source", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reloaded == direct,
      "persisted sketches must merge to the same estimates as in-flight ones")
  }

  test("merged sketches are stable across repartitioning") {
    val docs = Tables.documents(spark, Sf0001)
    def run(df: org.apache.spark.sql.DataFrame) =
      Sketches.mergedDistinct(df, "lang", "source", "text")
        .collect().map(_.toSeq).toSet
    assert(run(docs) == run(docs.repartition(13)))
  }

  // ---------------------------------------------------------- Count-Min ---

  test("CMS never underestimates and overshoot stays within the epsilon bound") {
    val toks = Tables.documents(spark, Sf0001)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    val n = toks.count()
    val sketch = Sketches.cmsBuild(toks, "tok", 1024, 4)
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    val got = Sketches.cmsEstimate(exact, "tok", sketch, 1024, 4)
      .join(exact, "tok")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (tok, est, ex) =>
      assert(est >= ex, s"$tok: CMS underestimated ($est < $ex)")
    }
    // ε = e/w; P(overshoot > εN) ≤ δ = e^-d per item — allow no item
    // past 2εN on this fixed deterministic fixture
    val eps = math.E / 1024
    val maxOver = got.map { case (_, est, ex) => est - ex }.max
    info(f"max CMS overshoot: $maxOver (2epsN = ${2 * eps * n}%.0f, N = $n)")
    assert(maxOver <= 2 * eps * n, s"overshoot $maxOver")
  }

  test("CMS sketches merge: cellwise sum of sub-sketches == whole-corpus sketch") {
    val docs = Tables.documents(spark, Sf0001)
    def toksOf(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(TextOps.tokens(col("text"))).as("tok"))
    def cells(df: org.apache.spark.sql.DataFrame) =
      Sketches.cmsBuild(toksOf(df), "tok", 1024, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cells(docs)
    val a = cells(docs.filter(col("doc_id") % 2 === 0))
    val b = cells(docs.filter(col("doc_id") % 2 =!= 0))
    val merged = (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    assert(merged == whole)
  }

  // -------------------------------------------------------------- Bloom ---

  private val BloomM = 4096
  private val BloomK = 5

  test("bloom: no false negatives, and fp rate within 3x the theoretical bound") {
    import spark.implicits._
    val cust = Tables.customer(spark, "/root/testdata/sf0.01")
    val build = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("key"))
    val members = build.as[Long].collect().toSet
    val bloom = Sketches.bloomCollect(
      Sketches.bloomBuild(build, "key", BloomM, BloomK))
    val probed = cust.select(col("c_custkey"),
      Sketches.bloomMaybeContains(col("c_custkey"), bloom, BloomM, BloomK)
        .as("maybe"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    val falseNeg = probed.count { case (k, m) => members(k) && !m }
    assert(falseNeg == 0, s"$falseNeg false negatives — bloom contract broken")
    val nonMembers = probed.filter { case (k, _) => !members(k) }
    val fpRate = nonMembers.count(_._2).toDouble / nonMembers.length
    // fill = 1 - (1 - 1/m)^(k*n); theoretical fp = fill^k
    val fill = 1.0 - math.pow(1.0 - 1.0 / BloomM, BloomK * members.size.toDouble)
    val bound = math.pow(fill, BloomK)
    info(f"fp rate: $fpRate%.5f (theory: $bound%.5f, ${bloom.size} set bits)")
    assert(fpRate <= bound * 3 + 0.01, f"fp rate $fpRate%.5f >> bound $bound%.5f")
  }

  test("bloom filters merge: filter(A union B) == filter(A) union filter(B)") {
    val cust = Tables.customer(spark, Sf0001)
      .filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("key"))
    val a = cust.filter(col("key") < 70)
    val b = cust.filter(col("key") >= 70)
    val whole = Sketches.bloomCollect(
      Sketches.bloomBuild(cust, "key", BloomM, BloomK)).toSet
    val merged = Sketches.bloomCollect(
      Sketches.bloomBuild(a, "key", BloomM, BloomK)).toSet ++
      Sketches.bloomCollect(
        Sketches.bloomBuild(b, "key", BloomM, BloomK)).toSet
    assert(whole == merged)
  }

  test("bloom bits and CMS cells survive a parquet round-trip (index-as-data)") {
    val dir = java.nio.file.Files.createTempDirectory("sketch_rt").toString
    val cust = Tables.customer(spark, Sf0001)
      .filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("key"))
    val bloom = Sketches.bloomBuild(cust, "key", BloomM, BloomK)
    bloom.write.mode("overwrite").parquet(s"$dir/bloom")
    val bloomBack = spark.read.parquet(s"$dir/bloom")
    assert(Sketches.bloomCollect(bloomBack).toSet ==
      Sketches.bloomCollect(bloom).toSet)
    val toks = Tables.documents(spark, Sf0001)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    val cms = Sketches.cmsBuild(toks, "tok", 1024, 4)
    cms.write.mode("overwrite").parquet(s"$dir/cms")
    val cmsBack = spark.read.parquet(s"$dir/cms")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells(cmsBack) == cells(cms))
    // estimates off the reloaded sketch are identical
    val probes = toks.limit(5).distinct()
    def est(sk: org.apache.spark.sql.DataFrame) =
      Sketches.cmsEstimate(probes, "tok", sk, 1024, 4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est(cmsBack) == est(cms))
  }

  test("bloom membership is a zero-shuffle projection (no Exchange, no Join)") {
    val bloom = Seq(1L, 5L, 77L, 401L)
    val plan = Tables.orders(spark, Sf0001)
      .select(Sketches.bloomMaybeContains(col("o_custkey"), bloom, BloomM, BloomK)
        .as("maybe"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("sharedRuns finds the longest exact shared token span via diagonals") {
    import spark.implicits._
    val common = "q w e r t y u i o p" // 10 shared tokens
    val df = Seq(
      (1L, s"alpha beta $common gamma"), // run at a_pos 2
      (2L, s"$common delta epsilon zeta"), // run at b_pos 0
      (3L, "totally different text with no overlap at all in here ok")
    ).toDF("doc_id", "text")
    val got = Sketches.sharedRuns(df, "doc_id", "text", k = 5).collect()
    assert(got.length == 1)
    val r = got.head
    // 6 consecutive shared 5-token windows -> span 5 + 6 - 1 = 10
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((1L, 2L, 10L, 2L, 0L)))
  }

  test("sharedRuns reports the LONGEST of multiple disjoint shared runs") {
    import spark.implicits._
    val df = Seq(
      (1L, "x1 x2 x3 x4 x5 sep1 sep2 y1 y2 y3 y4 y5 y6 y7"),
      (2L, "x1 x2 x3 x4 x5 osep y1 y2 y3 y4 y5 y6 y7")
    ).toDF("doc_id", "text")
    val got = Sketches.sharedRuns(df, "doc_id", "text", k = 5).collect()
    assert(got.length == 1)
    val r = got.head
    // the x-run shares one 5-window (span 5); the y-run shares three
    // consecutive windows (span 7) on a different diagonal — 7 wins
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((1L, 2L, 7L, 7L, 6L)))
  }

  test("scrubSharedSpans cuts the shared span from the higher-id doc only") {
    import spark.implicits._
    val common = "q w e r t y u i o p" // 10 shared tokens
    val df = Seq(
      (1L, s"alpha beta $common gamma"),
      (2L, s"$common delta epsilon zeta"),
      (3L, "totally different text with no overlap at all in here ok")
    ).toDF("doc_id", "text")
    val got = Sketches.scrubSharedSpans(df, "doc_id", "text", k = 5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // doc 1 (the keeper) and doc 3 (no overlap) pass through untouched
    assert(got(1L) == ((13L, 0L, s"alpha beta $common gamma")))
    assert(got(3L)._2 == 0L)
    // doc 2 loses exactly the 10 shared tokens, keeping its own tail
    assert(got(2L) == ((13L, 10L, "delta epsilon zeta")))
  }

  test("scrubSharedSpans merges overlapping spans from different pairs") {
    import spark.implicits._
    // doc 3 shares tokens 0..9 with doc 1 and tokens 5..14 with doc 2:
    // the merged cut is 0..14 (15 tokens), not 10 + 10
    val df = Seq(
      (1L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 xx1 xx2 xx3 xx4"),
      (2L, "c6 c7 c8 c9 c10 d1 d2 d3 d4 d5 yy1 yy2 yy3 yy4"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 d1 d2 d3 d4 d5 tail1 tail2")
    ).toDF("doc_id", "text")
    val got = Sketches.scrubSharedSpans(df, "doc_id", "text", k = 5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got(3L) == ((17L, 15L, "tail1 tail2")))
    assert(got(1L)._2 == 0L)
    // doc 2 loses its doc-1-shared prefix c6..c10 (it is the b-side of
    // the (1,2) pair) but keeps d1..d5 (doc 3 has the higher id there)
    assert(got(2L) == ((14L, 5L, "d1 d2 d3 d4 d5 yy1 yy2 yy3 yy4")))
  }

  test("sharedRuns drops boilerplate windows above the doc-frequency bound") {
    import spark.implicits._
    val boiler = "b1 b2 b3 b4 b5"
    // the boilerplate 5-token window appears in 4 docs; maxDocFreq=3
    // must drop it, leaving no reportable pair
    val df = (1L to 4L).map(i => (i, s"$boiler tail$i")).toDF("doc_id", "text")
    assert(Sketches.sharedRuns(df, "doc_id", "text", k = 5, maxDocFreq = 3)
      .collect().isEmpty)
    // and with the bound raised, all 6 pairs report the span
    val all = Sketches.sharedRuns(df, "doc_id", "text", k = 5, maxDocFreq = 10)
      .collect()
    assert(all.length == 6 && all.forall(_.getLong(2) == 5L))
  }
}
