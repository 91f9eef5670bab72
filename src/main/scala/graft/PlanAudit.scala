package graft

import org.apache.spark.sql.SparkSession

/** One-shot plan sweep over EVERY declared query — prints a line per
  * query whose physical plan contains a scale red flag:
  *
  *  - `CARTESIAN`: CartesianProduct anywhere (always a bug here;
  *    PlanSpec enforces this subset as a hard test)
  *  - `BNLJ`: BroadcastNestedLoopJoin — allowed ONLY for 1-row
  *    broadcast frames: single-query knn / rag / bm25-family corpus
  *    stats (incl. q_rerank's bm25 stage), exact-knn crossJoins behind
  *    partial top-k (q_knn_join / q_contrastive_pairs; the broadcast
  *    sample×corpus exact side of the recall rows and of
  *    q_contrastive_pairs_scaled builds no join at all — a per-partition
  *    heap pass, `MapPartitions`, feeds its window), the
  *    1-row bounds/count frames of q_zorder_layout and q_sim_histogram,
  *    q_ivfpq_refine's exact re-rank (1-row query frame ×
  *    ≤nCandidates fetched vectors), the 1-row Σ√n weight frame
  *    inside temperatureSample (q_temperature_mix, q_filter_mix), and
  *    the 1-row corpus-total frames of the count-LM family
  *    (q_lm_score, q_ccnet_buckets), pmiBigrams (q_pmi_bigrams), and
  *    the two 1-row distribution totals inside dsirWeights
  *    (q_dsir_weights), and the 1-row mean-occupancy threshold frame
  *    of the capped multiband join (q_ann_capped, q_ann_capped_scaled,
  *    q_ann_recall_capped, and since r16 the bands=4 recall twin
  *    q_ann_recall_capped_scaled_b4
  *    — multibandKnnJoin's maxBucketFactor crossJoins a 1-row avg
  *    over the scalar index; since r15 the same 1-row threshold frame
  *    appears in the capped multiprobe join —
  *    q_ann_multiprobe_capped_scaled and q_ann_recall_multiprobe_scaled);
  *    anything else needs a key
  *  - `GLOBALWIN`: a Window with an EMPTY partition spec — the whole
  *    input funnels through one task (allowed only on already-cut ≤k-row
  *    frames, e.g. hybrid-search rank-10)
  *  - `SORTAGG`: sort-based aggregation — expected only where the
  *    aggregate buffer is non-mutable by design (keep-first's
  *    struct-min); a long buffer appearing here is a regression
  *
  * Run per round after adding queries:
  * `sbt "runMain graft.PlanAudit"` — review any NEW line against the
  * allowances above.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    Queries.all.foreach { q =>
      try {
        val p = q.run(spark, dir).queryExecution.executedPlan.toString
        val flags = Seq(
          "CARTESIAN" -> p.contains("CartesianProduct"),
          "BNLJ" -> p.contains("BroadcastNestedLoopJoin"),
          "GLOBALWIN" -> p.linesIterator.exists(l =>
            l.contains("Window ") && l.contains("], [], [")),
          "SORTAGG" -> p.contains("SortAggregate")
        ).collect { case (n, true) => n }
        if (flags.nonEmpty) println(s"AUDIT ${q.name}: ${flags.mkString(",")}")
      } catch {
        case e: Throwable =>
          println(s"AUDIT ${q.name}: ERROR ${Option(e.getMessage).getOrElse("").take(60)}")
      }
    }
    spark.stop()
  }
}
