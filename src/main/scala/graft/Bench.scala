package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology (fixes the round-1 flaws called out in VERDICT.md):
  *  - force FULL evaluation of every output column by iterating the
  *    executed plan's rows (`queryExecution.toRdd.foreach`) — `.count()`
  *    let Catalyst prune projection-only queries down to a parquet row
  *    count (q_normalize benched 0.74s counted vs 12.5s computed);
  *  - one untimed warmup pass over every query first, so JVM/Spark/codegen
  *    startup is not billed to whichever query runs first (round 1 charged
  *    23.5s of warmup to q_knn_dot);
  *  - report the MEDIAN of 3 timed runs per query.
  */
object Bench {

  /** Evaluate every output column of every row, returning nothing to the
    * driver. */
  private def force(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  private def timeOnce(fn: => Unit): Double = {
    val t0 = System.nanoTime()
    fn
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the only WARNs these queries emit are expected
    // (WindowExec's single-partition note fires on q_hybrid_search's
    // intentional rank-10-rows window) and 3 runs × 64 queries of them
    // drown the one JSON line this main exists to print.
    spark.sparkContext.setLogLevel("ERROR")

    // optional comma-separated filter for local iteration on a subset;
    // matching is exact set membership, so ONLY=q_ann_lsh selects that
    // one row and never a name-prefix sibling like q_ann_lsh_multi
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_(name)) }

    // untimed warmup: plan + execute each query once. The per-query
    // stderr line is long-sweep visibility (a multi-hour sf10 run with
    // zero output until the end is undiagnosable — the r9 sweep sat 25
    // minutes in one skewed partition with nothing to show for it).
    queries.foreach { case (name, fn) =>
      try {
        val t = timeOnce(force(fn(spark, sfDir)))
        System.err.println(f"[bench] warmup $name ok ($t%.1fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }

    // median over SUCCESSFUL runs only; any failure is reported, and a
    // query with zero successes is marked -1 (excluded from the total) —
    // a failed run folded into the sort would otherwise bias the median
    // toward the minimum (round-2 advice).
    val results = queries.map { case (name, fn) =>
      val times = (1 to runs).map { _ =>
        try {
          val t = timeOnce(force(fn(spark, sfDir)))
          System.err.println(f"[bench] timed $name ($t%.1fs)")
          t
        } catch { case e: Throwable =>
          System.err.println(s"[bench] timed $name failed: ${e.getMessage}")
          -1.0
        }
      }
      val ok = times.filter(_ >= 0).sorted
      if (ok.length < runs)
        System.err.println(s"[bench] $name: ${runs - ok.length}/$runs runs FAILED")
      val median = if (ok.isEmpty) -1.0 else ok(ok.length / 2)
      name -> median
    }

    // millisecond resolution: sub-ms digits are noise and the full line
    // must fit the driver's bounded output-tail window (BENCH_r05's
    // 9-decimal line overflowed it and lost the total — parsed: null)
    def r3(v: Double): Double = math.round(v * 1000).toDouble / 1000
    // one formatted entry list feeds BOTH the full line and the chunked
    // re-emit below, so the two can never disagree on format/rounding
    val entries = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
    val qs = entries.mkString("{", ",", "}")
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    // 1-minute system load average at exit: wall times on a co-tenant
    // host inflate multiplicatively (BENCH_r04's 170s total re-benched
    // idle at 36s) — record the contention so a reader can tell a slow
    // engine from a busy machine. -1.0 if the platform can't report it.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // `runs` rides along so the record states how many timed runs each
    // row's median is taken over
    val full = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"queries":$qs,"load_avg":$loadAvg,"sf":"$sfDir"}"""
    println(full)
    // The driver keeps only a BOUNDED TAIL of this output (~2000 chars;
    // every BENCH_r1–r6 artifact has parsed:null because the one full
    // line above is ~3kB and arrives front-truncated). Re-emit the
    // per-query map in SMALL chunks — each line a complete, independently
    // parseable JSON object — so whatever lands in the tail window is
    // whole lines, then the compact total LAST so it always survives.
    // Chunks are ordered by ASCENDING wall-time (VERDICT r7 #2: r7's
    // tail still lost parts 1–2, i.e. whatever sorted first), so the
    // SLOWEST rows — the only ones a perf grader needs — are printed
    // last and survive any front-truncation; ≤10 queries per line keeps
    // each chunk well under the tail window on its own.
    val byTime = results.sortBy(_._2)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
    val nParts = (byTime.size + 9) / 10
    byTime.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
      val part = chunk.mkString("{", ",", "}")
      println(s"""{"metric":"queries_part","part":$i,"of":$nParts,"order":"slowest_last","queries":$part}""")
    }
    // durable full record: bench_last.json holds the whole single-line
    // JSON for post-hoc reads (the builder commits an idle-run copy as
    // BENCH_LOCAL_r{N}.json each round). Best-effort — a write failure
    // must not eat the tail line the whole block exists to protect.
    try {
      val f = new java.io.File("target/bench_last.json")
      Option(f.getParentFile).foreach(_.mkdirs())
      val pw = new java.io.PrintWriter(f)
      try pw.println(full) finally pw.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] bench_last.json write failed: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"load_avg":$loadAvg,"sf":"$sfDir"}""")
    spark.stop()
  }
}
