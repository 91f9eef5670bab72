package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-quality regression guards: the scale properties the DuckDB
  * oracle CANNOT see — pushdown reaching the scan, hash vs sort
  * aggregation, partial top-k below the exchange, materialized-once
  * subtrees, and no accidental cartesian products. Each assertion pins a
  * property that silently regressing would make a query wrong-at-scale
  * while still hash-green. */
class PlanSpec extends SparkSpec {

  // formatted explain: includes scan details (PushedFilters, ReadSchema)
  // deterministically — the raw executedPlan string elides them while an
  // AdaptiveSparkPlan is not yet finalized, which made assertions
  // order-dependent across the suite
  private def planOf(name: String): String = {
    // other suites cache fixture frames; the cache manager would then
    // substitute InMemoryRelation for the parquet scan and hide
    // PushedFilters — plan assertions need the uncached plan
    spark.catalog.clearCache()
    Queries.queries(name)(spark, Sf0001).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q_filter_search: the label predicate is pushed to the parquet scan") {
    val p = planOf("q_filter_search")
    assert(p.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)]"),
      s"label filter not pushed:\n$p")
  }

  test("q_meta_filter: map-key predicates fold and push to the scan") {
    val p = planOf("q_meta_filter")
    assert(p.contains("EqualTo(lang,en)") && p.contains("EqualTo(source,src7)"),
      s"map-key predicates not pushed:\n$p")
  }

  test("q_minhash_sig: hash aggregation, not sort-based (round-2 defect)") {
    val p = planOf("q_minhash_sig")
    assert(p.contains("HashAggregate"), s"no hash agg:\n$p")
    assert(!p.contains("SortAggregate"),
      s"minhash regressed to sort-based aggregation:\n$p")
  }

  test("q_knn_cosine: single-query top-k plans as TakeOrderedAndProject") {
    val p = planOf("q_knn_cosine")
    assert(p.contains("TakeOrderedAndProject"), s"full sort instead of top-k:\n$p")
  }

  test("q_sql_surface: the SQL-string entry path plans the same top-k as the DataFrame API") {
    val p = planOf("q_sql_surface")
    assert(p.contains("TakeOrderedAndProject"), s"full sort instead of top-k:\n$p")
    assert(p.contains("vec_cosine"), s"registered kernel absent from the plan:\n$p")
  }

  test("q_knn_join: partial top-k (WindowGroupLimit) runs below the exchange") {
    val p = planOf("q_knn_join")
    val limitIdx = p.indexOf("WindowGroupLimit")
    assert(limitIdx >= 0, s"no partial top-k:\n$p")
    // at least one WindowGroupLimit must appear DEEPER than the last
    // exchange feeding the window (partial mode before shuffle)
    assert(p.lastIndexOf("WindowGroupLimit") > p.indexOf("Exchange"),
      s"no pre-shuffle partial top-k:\n$p")
  }

  /** The executed plans of `name`: the row's own, plus those of the
    * lazy checkpoints its builder takes (a checkpoint's plan is hidden
    * behind `Scan ExistingRDD` in the row's plan). */
  private def executedPlans(name: String): Seq[SparkPlan] = {
    spark.catalog.clearCache()
    val checkpoints = new ConcurrentLinkedQueue[QueryExecution]
    val marker = spark.range(1).toDF()
    val drained = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (qe eq marker.queryExecution) drained.countDown()
        else if (action == "localCheckpoint") checkpoints.add(qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val row = Queries.queries(name)(spark, Sf0001)
      marker.collect()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      row.queryExecution.executedPlan +: checkpoints.asScala.toSeq.map(_.executedPlan)
    } finally spark.listenerManager.unregister(listener)
  }

  test("q_ann_recall, q_contrastive_pairs_scaled: exact knn over broadcast queries builds no pair rows") {
    object Plans extends AdaptiveSparkPlanHelper
    for (name <- Seq("q_ann_recall", "q_contrastive_pairs_scaled")) {
      val plans = executedPlans(name)
      val all = plans.flatMap(p => Plans.collect(p) { case n => n })
      // the broadcast count frame of the contrastive random negatives
      // (a global aggregate) is a 1-row nested loop, not a pair product
      def oneRow(p: SparkPlan) = p.exists {
        case a: HashAggregateExec => a.groupingExpressions.isEmpty
        case _ => false
      }
      val pairJoins = all.collect {
        case j: BroadcastNestedLoopJoinExec
            if !oneRow(if (j.buildSide == BuildLeft) j.left else j.right) => j
        case c: CartesianProductExec => c
      }
      assert(pairJoins.isEmpty, s"$name: pair join\n${plans.mkString("\n")}")
      assert(all.exists(_.isInstanceOf[MapPartitionsExec]), s"$name: no corpus pass\n${plans.mkString("\n")}")
      // every sort on `score` ranks either the corpus pass's heap
      // survivors or an ANN join's candidate pairs
      val pairSorts = all.collect {
        case s: SortExec if s.sortOrder.exists(_.references.exists(_.name == "score")) &&
            Plans.find(s) {
              case _: MapPartitionsExec | _: HashJoin | _: SortMergeJoinExec => true
              case _ => false
            }.isEmpty => s
      }
      assert(pairSorts.isEmpty, s"$name: sort over scored pairs\n${pairSorts.mkString("\n")}")
    }
  }

  test("q_reservoir_sample: partial WindowGroupLimit keeps the corpus off the exchange") {
    val p = planOf("q_reservoir_sample")
    assert(p.contains("WindowGroupLimit"), s"no partial group limit:\n$p")
    // the partial node must run BELOW the group-key exchange, so each
    // partition forwards at most n rows per group — without it the whole
    // corpus funnels through the low-cardinality lang shuffle
    assert(p.lastIndexOf("WindowGroupLimit") > p.indexOf("Exchange"),
      s"no pre-shuffle partial group limit:\n$p")
  }

  test("q_group_topk: partial WindowGroupLimit below the exchange (by-value top-k)") {
    val p = planOf("q_group_topk")
    assert(p.contains("WindowGroupLimit"), s"no partial group limit:\n$p")
    assert(p.lastIndexOf("WindowGroupLimit") > p.indexOf("Exchange"),
      s"no pre-shuffle partial group limit:\n$p")
  }

  test("q_neardup_minhash: the signature subtree is materialized once") {
    val p = planOf("q_neardup_minhash")
    // the localCheckpoint materializes the signature, so BOTH self-join
    // sides read `Scan ExistingRDD` — the shingle→minhash pipeline (a
    // parquet scan + shingle explode) must appear in the plan ZERO times
    // (round-2 defect: it ran once per side). The band explodes over the
    // checkpointed 16-long rows are cheap and expected.
    assert(!p.contains("Scan parquet"),
      s"signature pipeline recomputed instead of read from checkpoint:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"no checkpoint scan found:\n$p")
  }

  test("q_bm25: document-frequency and corpus-stats sides broadcast (no shuffle join)") {
    val p = planOf("q_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"bm25 dims not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"bm25 joined its term-count-sized sides with a shuffle join:\n$p")
  }

  test("q_classifier_trained: the weight table broadcasts (corpus features never reshuffle for the model)") {
    val p = planOf("q_classifier_trained")
    assert(p.contains("BroadcastHashJoin"),
      s"trained-weight table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"model join shuffled the corpus-sized feature side:\n$p")
  }

  test("q_decontaminate: the eval gram set broadcasts (the corpus never reshuffles for the probe)") {
    val p = planOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval gram set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"containment probe shuffled the corpus gram side:\n$p")
  }

  test("q_split and q_quantize stay pure projections (zero exchanges before the declared sort)") {
    for (name <- Seq("q_split", "q_quantize")) {
      val p = planOf(name)
      // exactly the exchanges the declared output needs (the final
      // ORDER BY, and for q_split the groupBy) — the assignment /
      // quantization itself must not shuffle; a projection-only op that
      // starts shuffling silently would still hash-green. Count the
      // details-section headers only (the formatted explain also lists
      // every node once in the tree).
      val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).length
      assert(exchanges <= 2, s"$name grew $exchanges exchanges:\n$p")
    }
  }

  test("q_partition_prune: the lang predicate prunes partitions at planning time") {
    val p = planOf("q_partition_prune")
    // the lang predicate must be a planning-time PartitionFilter (whole
    // directories skipped), NOT a per-row data filter — and lang must be
    // absent from ReadSchema (a partition column is never read from
    // data; a scan that reads it has lost the hive layout)
    assert("""PartitionFilters: \[lang#\d+ IN \(en,zh\)\]""".r.findFirstIn(p).isDefined,
      s"no planning-time partition filter on the partitioned scan:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>"),
      s"partition column leaked into the data read:\n$p")
  }

  test("q_range_join: the custom RangeJoinPlan expands to a bucketed equi-join") {
    val p = planOf("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a pair scan:\n$p")
    assert(p.contains("Generate"), s"no interval bucket explode:\n$p")
    // the runtime points-side prune (VERDICT r10 #1): a Filter comparing
    // the point column against the interval frame's scalar-subquery
    // min/max bounds must sit on the points scan BELOW the join — without
    // it every point is bucketed and exchanged even when the interval set
    // covers a sliver of the time domain (60M rows for a 34-day window at
    // sf10)
    val pruned = """ship_s#\d+L >= Subquery subquery""".r.findFirstIn(p)
    assert(pruned.isDefined,
      s"points side lost the runtime min/max bounds prune:\n$p")
    // the r12 bucket-id bloom (VERDICT r11 #3) rides the SAME subquery:
    // sparse-but-wide interval sets defeat global bounds, so the filter
    // must also probe might_contain against the exploded-bucket bloom
    assert(p.contains("might_contain"),
      s"points side lost the bucket-id bloom prune:\n$p")
  }

  test("q_ivfpq_search: serving scans the persisted code table, pruned by cell") {
    val p = planOf("q_ivfpq_search")
    // the probe equi-join must prune unprobed cells at the scan (partition
    // column + dynamic pruning), and the code scan must never read vectors
    assert(p.contains("PartitionFilters") && p.contains("dynamicpruning"),
      s"probe join no longer prunes index partitions:\n$p")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,pq_code:bigint>"),
      s"index scan reads more than (vec_id, pq_code):\n$p")
    // 128-kernel in-query re-encode would reintroduce vec_euclidean over
    // the data side — codes are unpacked by shift/mask only
    assert(!p.contains("vec_euclidean"),
      s"serving plan re-runs encode kernels:\n$p")
  }

  test("q_media_features: declared query is a codegen projection (no object boundary)") {
    val p = planOf("q_media_features")
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
      s"media feature query fell back to the typed-Dataset boundary:\n$p")
  }

  test("q_neardup_incremental: delta broadcasts; the persisted index never re-hashes") {
    val p = planOf("q_neardup_incremental")
    // the corpus side must be the persisted band table feeding the join
    // probe-side directly — a regression that re-bands the corpus would
    // show a second documents.parquet scan; one that shuffles the index
    // would replace the broadcast join with a sort-merge join
    assert(p.contains("BroadcastHashJoin"),
      s"delta side no longer broadcasts (index would shuffle at scale):\n$p")
    assert(p.contains("band_index_"),
      s"persisted band index not scanned:\n$p")
    val corpusScans = "documents\\.parquet".r.findAllIn(p).size
    assert(corpusScans == 1,
      s"expected 1 documents scan (delta only), found $corpusScans:\n$p")
  }

  test("no accidental cartesian products in non-knn queries") {
    // the exact-knn queries legitimately cross-join (scored all-pairs);
    // every other declared query must be cartesian-free. 1-row broadcast
    // query frames plan as BroadcastNestedLoopJoin — allowed. A builder
    // that throws fails the test: it would otherwise hide its plan.
    val knnLike = Set("q_knn_join", "q_ann_lsh", "q_ann_lsh_multi", "q_ann_ivf")
    val offenders = Queries.all.map(_.name)
      .filterNot(knnLike)
      .filter { n =>
        try planOf(n).contains("CartesianProduct")
        catch { case e: Throwable => fail(s"$n: builder threw", e) }
      }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("q_domain_budget: bounds broadcast; no domain-width corpus window") {
    val p = planOf("q_domain_budget")
    // the bucket-bounds frame must join as the BUILD side of a broadcast
    // join — a sort-merge bounds join would shuffle the corpus by
    // (source, bucket) even for keep-whole/drop buckets
    assert(p.contains("BroadcastHashJoin"),
      s"bucket bounds no longer broadcast:\n$p")
    // the per-row (boundary) window must partition by (source, bucket) —
    // regressing to the naive per-domain running sum would plan
    // windowspecdefinition(source, __priority ...): one task per domain
    // at any corpus size
    assert("windowspecdefinition\\(source#\\d+, __bucket#\\d+L, __priority#\\d+L ASC"
      .r.findFirstIn(p).isDefined,
      s"boundary window lost its bucket partitioning:\n$p")
    assert("windowspecdefinition\\(source#\\d+, __priority#\\d+L ASC"
      .r.findFirstIn(p).isEmpty,
      s"corpus window partitioned by source alone (domain-width exchange):\n$p")
    // re-execution contract (withBucketBounds): the checkpointed bounds
    // frame leaves only the two probe branches' scans in the plan. The
    // query's input subtree is a 2-scan join (docs ⋈ quality), so the
    // keep-whole + boundary branches contribute 2×2 = 4 — the r8 shape
    // re-planned the bounds aggregate per branch too and showed 8 (4
    // input executions, an expensive upstream silently doubled)
    // upper bound, not exact (r9 ADVICE): the regression guarded against
    // is MORE scans (the bounds aggregate re-planning the input per
    // branch showed 8); an extra legitimate footer read or AQE formatting
    // change must not fail this
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans <= 4, s"expected at most 2 probe branches x 2-scan input (bounds checkpointed), saw $scans:\n$p")
  }

  test("q_shard_assign: the corpus window partitions by bucket, never globally") {
    val p = planOf("q_shard_assign")
    // per-row window: partitioned by __bucket, ordered by doc_id — the
    // two-level shape. The only UNPARTITIONED window allowed is the
    // bucket-offsets one (sums __bsum over the aggregated metadata
    // frame); a windowspecdefinition starting at doc_id would be the
    // single-partition global running sum.
    assert("windowspecdefinition\\(__bucket#\\d+L, doc_id#\\d+L ASC"
      .r.findFirstIn(p).isDefined,
      s"per-row window lost its bucket partitioning:\n$p")
    assert("windowspecdefinition\\(doc_id#\\d+L ASC".r.findFirstIn(p).isEmpty,
      s"global single-partition window over the corpus:\n$p")
    // at most one probe scan; the bounds side reads its checkpoint, not
    // parquet (upper bound, not exact — r9 ADVICE)
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans <= 1, s"expected at most 1 probe scan (bounds checkpointed), saw $scans:\n$p")
  }

  test("q_bpe_merge: vocab-first two-level aggregation, joinless, partial top-k") {
    val p = planOf("q_bpe_merge")
    // corpus -> word counts -> per-word pair positions -> pair rollup:
    // three partial+final HashAggregate pairs, but only TWO hash
    // exchanges — the per-word agg reuses the word partitioning (same
    // word -> same partition covers (pair, word, f) groups), so the
    // only corpus-scale shuffle is the (word, count) one. A third hash
    // exchange or a join would mean the pair explode left the vocab.
    assert(p.contains("TakeOrderedAndProject"), s"full sort instead of top-k:\n$p")
    assert(!p.contains("Join"), s"unexpected join in the BPE pipeline:\n$p")
    val aggs = "\\(\\d+\\) HashAggregate".r.findAllIn(p).size
    assert(aggs == 6, s"expected 3 partial+final agg pairs, saw $aggs:\n$p")
    val hashEx = "hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges (word, pair), saw $hashEx:\n$p")
    assert(!p.contains("SortAggregate"), s"sort-based aggregation:\n$p")
  }

  test("q_pmi_bigrams: the count floor filters bigrams BEFORE the vocab joins") {
    val p = planOf("q_pmi_bigrams")
    // the minCount floor must land on the aggregated bigram counts
    // (filter above the agg, below the joins) — floor-after-join would
    // shuffle the whole bigram vocabulary through both unigram joins
    assert("Filter \\[codegen[^\\n]*\\(n_pair#\\d+L? >= 5\\)".r.findFirstIn(p).isDefined
      || "\\(n_pair#\\d+L? >= 5\\)".r.findFirstIn(p).isDefined,
      s"minCount floor missing from the plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"full sort instead of top-k:\n$p")
  }

  test("q_quality_funnel: one corpus pass — no window, single 1-row aggregate") {
    val p = planOf("q_quality_funnel")
    // the funnel must never plan a per-stage scan or a rank window: the
    // survival depth is a fused projection and all stage counters come
    // from ONE global aggregate (partial+final over zero grouping keys)
    assert(!p.contains("Window"), s"window in the funnel plan:\n$p")
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).size <= 4,
      s"more aggregates than depth-count + keeper-groups:\n$p")
    assert(p.contains("Generate"), s"stack unpivot missing:\n$p")
  }

  test("q_ccnet_buckets: the rank window runs over the histogram, thresholds broadcast") {
    val p = planOf("q_ccnet_buckets")
    // the cumulative-rank window partitions by lang and orders by the
    // aggregated __score — its input is the (lang, score) histogram. A
    // windowspecdefinition ordered by doc_id (or any per-doc column)
    // would be the per-language corpus window this operator exists to
    // avoid.
    assert("windowspecdefinition\\(lang#\\d+, __score#\\d+L? DESC"
      .r.findFirstIn(p).isDefined,
      s"histogram rank window missing:\n$p")
    assert("windowspecdefinition\\([^)]*doc_id".r.findFirstIn(p).isEmpty,
      s"per-document window over the corpus:\n$p")
    // tercile thresholds are a language-sized frame: must broadcast back
    assert(p.contains("BroadcastHashJoin"), s"thresholds no longer broadcast:\n$p")
  }

  test("q_url_filter: the blocklist is a task-closure InSet — no join, only the final sort exchanges") {
    val p = planOf("q_url_filter")
    assert(!p.contains("Join"),
      s"blocklist filtering regressed to a join:\n$p")
    // the only exchange allowed is the trailing ORDER BY's range
    // partitioning — a hash exchange would mean the corpus shuffled
    // for the blocklist
    assert(!p.contains("hashpartitioning"),
      s"corpus hash-shuffled for the blocklist filter:\n$p")
  }

  test("q_host_stats: two-level aggregation, no count-distinct EXPAND") {
    val p = planOf("q_host_stats")
    assert(p.contains("HashAggregate"), s"no hash agg:\n$p")
    assert(!p.contains("Expand"),
      s"distinct-language count regressed to countDistinct EXPAND:\n$p")
  }

  test("q_dsir_weights: the log-ratio model broadcasts (corpus never reshuffles for it)") {
    val p = planOf("q_dsir_weights")
    // the ≤k-row model joins the hashed features as the BUILD side of a
    // BroadcastHashJoin — a sort-merge model join would reshuffle the
    // corpus-sized feature table by bucket
    assert(p.contains("BroadcastHashJoin"), s"model no longer broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"shuffle join in the DSIR scoring path:\n$p")
  }

  test("q_neardup_pairs: the embedding re-attach broadcasts under the ceiling (r17)") {
    val p = planOf("q_neardup_pairs")
    // verify-stage shape (MIGRATION "LSH serving joins"): candidate id
    // pairs stream past broadcast (id, vector) hash tables — a
    // sort-merge re-attach would exchange the CANDIDATE volume with a
    // vector column riding every row. Scoped to the RE-ATTACH joins
    // (ADVICE r17: a plan-wide !SortMergeJoin only held because sf0.001
    // stats broadcast the band self-join too — which r18's salted
    // skew-split legitimately plans as SMJ): no SMJ section may join on
    // the re-attach keys a_id / b_id.
    assert(p.contains("BroadcastHashJoin"), s"re-attach no longer broadcast:\n$p")
    // formatted-mode SMJ details print their equi-keys as
    // "Left/Right keys [n]: [col#id, ...]" — a sort-merge re-attach
    // would list a_id/b_id there, in any key position
    val smjBlocks = p.split(raw"\(\d+\) ").filter(_.startsWith("SortMergeJoin"))
    val onReattachKeys = smjBlocks.filter(b =>
      raw"keys \[\d+\]: \[[^\]]*\b(a_id|b_id)#".r.findFirstIn(b).isDefined)
    assert(onReattachKeys.isEmpty,
      s"candidates sort-merge-joined against the vector table:\n" +
        s"${onReattachKeys.mkString("\n---\n")}")
  }

  test("reattachSide: broadcasts while the table fits the ceiling, not above it") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val vecs = spark.range(4).selectExpr("id", "array(0.1d, 0.2d) as v")
    val under = operators.VectorSearch.reattachSide(vecs, rows = 4, dim = 2)
    val overCeiling = operators.VectorSearch.reattachSide(
      vecs, rows = Long.MaxValue / 1024, dim = 2)
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.collect { case h: ResolvedHint => h }.nonEmpty ||
        df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.nonEmpty
    assert(hinted(under), "under-ceiling re-attach side not broadcast-hinted")
    assert(!hinted(overCeiling),
      "over-ceiling re-attach side must stay shuffled (executor memory)")
  }
}
