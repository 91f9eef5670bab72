package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streaming

/** Streaming == batch differential test: the same transform functions
  * executed under `readStream` + AvailableNow must produce exactly the
  * batch results (integer-exact aggregates make this bit-comparable). */
class StreamingSpec extends SparkSpec {

  /** Stage the fixture's events.parquet into a landing directory — the
    * file-arrival shape FileStreamSource requires. */
  private lazy val landingDir: String = {
    val dir = java.nio.file.Paths.get(suiteScratchDir("stream_events_sf0001_"))
    val dst = dir.resolve("events.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/events.parquet"), dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  private def runStream(df: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    spark.table(name)
  }

  test("streams can be defined over an EMPTY landing dir (subscribe-before-files)") {
    // the operational ingest shape: the stream subscribes first, files
    // land later — schema sniffing must fall back to the documented
    // fixture schema instead of throwing UNABLE_TO_INFER_SCHEMA
    val dir = java.nio.file.Paths.get(scratchDir("stream_empty_test_"))
    assert(Streaming.eventsStream(spark, dir.toString).isStreaming)
    assert(Streaming.documentsStream(spark, dir.toString).isStreaming)
    assert(Streaming.embeddingsStream(spark, dir.toString).isStreaming)
  }

  test("windowed counts: streaming (AvailableNow) == batch") {
    val batch = Streaming.windowedCounts(Tables.events(spark, Sf0001))
      .orderBy("window_start_epoch", "event_type").collect().toSeq
    val stream = runStream(
      Streaming.windowedCounts(
        Streaming.eventsStream(spark, landingDir), watermark = Some("1 hour")),
      "wc_stream")
      .orderBy("window_start_epoch", "event_type").collect().toSeq
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("sessionize: streaming (AvailableNow) == batch") {
    val batch = Streaming.sessionize(Tables.events(spark, Sf0001))
      .orderBy("user_id", "session_start_epoch").collect().toSeq
    val stream = runStream(
      Streaming.sessionize(
        Streaming.eventsStream(spark, landingDir), watermark = Some("1 hour")),
      "sess_stream")
      .orderBy("user_id", "session_start_epoch").collect().toSeq
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("stateful mapGroupsWithState: streaming final state == batch") {
    import graft.streaming.Streaming
    // batch: the state function runs once per group over all events
    val batch = Streaming.userRunningStats(Tables.events(spark, Sf0001))
      .collect().map(s => s.user_id -> ((s.n_events, s.value_milli_sum, s.last_epoch))).toMap
    // stream: state persists across micro-batches; memory sink in Update
    // mode keeps every emission — the LAST row per user is the final state
    val q = Streaming.userRunningStats(Streaming.eventsStream(spark, landingDir))
      .writeStream.format("memory").queryName("user_stats")
      .outputMode(Streaming.RunningStatsOutputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("user_stats")
      .groupBy("user_id")
      .agg(max("n_events").as("n"), max("value_milli_sum").as("s"), max("last_epoch").as("l"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream interval self-join == batch") {
    import graft.streaming.Streaming
    val within = 86400
    val batchTotal = Streaming.correlatedPairs(
      Tables.events(spark, Sf0001), Tables.events(spark, Sf0001), within)
      .agg(count(lit(1)), sum("gap_micros"))
      .collect()(0)
    val a = Streaming.eventsStream(spark, landingDir).withWatermark("ts", "40 days")
    val b = Streaming.eventsStream(spark, landingDir).withWatermark("ts", "40 days")
    val q = Streaming.correlatedPairs(a, b, within)
      .writeStream.format("memory").queryName("event_pairs")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val streamTotal = spark.table("event_pairs")
      .agg(count(lit(1)), sum("gap_micros")).collect()(0)
    assert(streamTotal == batchTotal)
    assert(batchTotal.getLong(0) > 0)
  }

  /** Write each row group as its own parquet file in `dir`, in order —
    * with `maxFilesPerTrigger=1` each file becomes one micro-batch, so
    * the watermark advances BETWEEN the groups (what late-data and
    * event-time-timeout semantics need; a single batch never sees its
    * own watermark). */
  private def stageBatches(dir: String, batches: Seq[Seq[(Long, Long)]]): Unit = {
    import spark.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "epoch")
        .select(col("user_id"), timestamp_seconds(col("epoch")).as("ts"),
          lit("click").as("event_type"), lit(1.0).as("value"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/b$i")
      // distinct mtimes keep FileStreamSource's (modTime, path) order
      Thread.sleep(20)
    }
  }

  private def readStaged(dir: String, nBatches: Int): org.apache.spark.sql.DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
  }

  test("watermark drops late data in streaming; batch keeps it") {
    val dir = scratchDir("stream_late_test_")
    // batch 0: window [36000,36600) gets 2 events; max ts 37500 →
    // watermark 37500-600 = 36900 > 36600 closes the window. The
    // watermark becomes OPERATIVE one batch after its data (Spark
    // applies the update at the following batch boundary), so the late
    // row arrives two batches after the window's data:
    // batch 2: 36120 is LATE (watermark ≥ 36900 by now) → dropped;
    // 45000 keeps the stream moving.
    val b0 = Seq((1L, 36000L), (1L, 36480L), (1L, 37500L))
    val b1 = Seq((1L, 39600L))
    val b2 = Seq((1L, 36120L), (1L, 45000L))
    stageBatches(dir, Seq(b0, b1, b2))
    val q = Streaming.windowedCounts(readStaged(dir, 3), watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("late_wc")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("late_wc")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // the late event is NOT in the closed window
    assert(streamed(36000L) == 2L, s"late row leaked into a closed window: $streamed")
    // batch over the same files counts all 5 (no watermark in batch)
    val batch = Streaming.windowedCounts(
      spark.read.parquet(s"$dir/b*"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(batch(36000L) == 3L, s"batch should keep the late row: $batch")
  }

  test("flatMapGroupsWithState event-time timeout emits sessions exactly once, on close") {
    val dir = scratchDir("stream_session_test_")
    val gap = 300L
    // u1: session A (1000,1060) closed inline by the 10000 event in b2;
    //     session B (10000) closed by TIMEOUT once the watermark passes
    //     10300 (b3 runs with watermark 50000-10=49990).
    // u2: session (1000) closed by timeout the same way.
    // u3: session (50000) closed inline by its own 100000 event in b3;
    //     the 100000 session is still open at end → never emitted.
    val b1 = Seq((1L, 1000L), (1L, 1060L), (2L, 1000L))
    val b2 = Seq((1L, 10000L), (3L, 50000L))
    val b3 = Seq((3L, 100000L))
    stageBatches(dir, Seq(b1, b2, b3))
    val q = Streaming.closedSessions(readStaged(dir, 3), gap, "10 seconds")
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("closed_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expected = Set(
      (1L, 1000L, 1060L, 2L),
      (1L, 10000L, 10000L, 1L),
      (2L, 1000L, 1000L, 1L),
      (3L, 50000L, 50000L, 1L))
    assert(got == expected, s"closed sessions diverged: got $got")
  }

  test("streaming dedup drops cross-batch redeliveries (at-least-once ingest)") {
    // landing dir with the SAME fixture file twice: batch 2 redelivers
    // every event_id of batch 1 — the at-least-once upstream shape
    val dir = java.nio.file.Paths.get(scratchDir("stream_dedup_test_"))
    for (name <- Seq("a.parquet", "b.parquet")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$Sf0001/events.parquet"), dir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Thread.sleep(20)
    }
    val in = Streaming.eventsStream(spark, dir.toString, maxFilesPerTrigger = Some(1))
    val q = Streaming.dedupStream(in, Seq("event_id"), Some("40 days"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("dedup_stream").count()
    val nEvents = Tables.events(spark, Sf0001).count()
    assert(streamed == nEvents,
      s"expected $nEvents deduped rows from ${2 * nEvents} delivered, got $streamed")
    // distinct ids survived exactly once
    assert(spark.table("dedup_stream").select("event_id").distinct().count() == nEvents)
  }

  test("streaming HLL sketch aggregation converges to the batch estimates (incremental corpus stats)") {
    // the mergeable-sketch story end-to-end: documents arrive in
    // micro-batches, the per-lang distinct estimate is maintained as
    // streaming state (complete mode), and after the last batch it
    // equals the batch-computed estimate exactly
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "lang", "text")
    val dir = scratchDir("stream_sketch_test_")
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b0")
    Thread.sleep(20)
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b1")

    val schema = docs.schema
    val streamed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
      .groupBy("lang")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("text"))).as("est"))
    val q = streamed.writeStream
      .format("memory").queryName("sketch_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("sketch_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = docs.groupBy("lang")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("text"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"streaming sketch state diverged from batch: $got vs $expected")
  }

  test("streaming CMS maintenance: cells aggregated over micro-batches == batch sketch") {
    // the frequency-sketch analog of the HLL test: cmsBuild is a pure
    // (row, bucket) counting aggregation, so the SAME code maintains the
    // sketch as streaming state, and after the last micro-batch the cell
    // table equals a batch build exactly (cellwise merge = streaming sum)
    import graft.operators.{Sketches, TextOps}
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val dir = scratchDir("stream_cms_test_")
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b0")
    Thread.sleep(20)
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b1")
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(TextOps.tokens(col("text"))).as("tok"))
    val streamed = Sketches.cmsBuild(
      toks(spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/b*")),
      "tok", 1024, 4)
    val q = streamed.writeStream
      .format("memory").queryName("cms_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = cells(spark.table("cms_stream"))
    val expected = cells(Sketches.cmsBuild(toks(docs), "tok", 1024, 4))
    assert(got == expected, "streaming CMS cells diverged from batch")
    assert(got.nonEmpty)
  }

  test("streaming index maintenance: stream-assigned LSH buckets and PQ codes == batch") {
    import graft.operators.VectorSearch
    import graft.functions.Metric
    // land the embeddings parquet for FileStreamSource
    val dir = java.nio.file.Paths.get(scratchDir("stream_emb_sf0001_"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/embeddings.parquet"),
      dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

    val batchEmb = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val cbs = VectorSearch.pqCodebooks(batchEmb, "embedding", "vec_id")
    def indexOf(df: org.apache.spark.sql.DataFrame) = {
      val buckets = VectorSearch.lshBucketTable(df, "embedding", "vec_id",
        Metric.Cosine, Tables.EmbeddingDim, bits = 4, bands = 4)
      val codes = VectorSearch.pqEncode(df, "embedding", "vec_id", cbs)
      buckets.join(codes, "vec_id")
    }
    val batch = indexOf(batchEmb).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    val q = indexOf(
      Streaming.embeddingsStream(spark, dir.toString).select("vec_id", "embedding"))
      .writeStream.format("memory").queryName("index_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val stream = spark.table("index_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(stream == batch, "stream-maintained index diverged from batch rebuild")
    assert(batch.nonEmpty)
  }

  test("burst alerting over streamed window counts == full batch burstDetect") {
    val batch = Streaming.burstDetect(Tables.events(spark, Sf0001))
      .orderBy("event_type", "window_start_epoch").collect().toSeq
    val streamedCounts = runStream(
      Streaming.windowedCounts(
        Streaming.eventsStream(spark, landingDir), "6 hours",
        watermark = Some("1 hour")),
      "burst_counts_stream")
    val stream = Streaming.burstFlags(streamedCounts)
      .orderBy("event_type", "window_start_epoch").collect().toSeq
    assert(stream == batch)
    assert(batch.exists(_.getBoolean(4)) || batch.nonEmpty)
  }

  test("burst detection: 2x-over-trailing-3 fires, under-threshold and warmup never do") {
    import spark.implicits._
    def rows(tpe: String, perWindow: Seq[Int]) =
      perWindow.zipWithIndex.flatMap { case (n, w) =>
        (0 until n).map { i =>
          (tpe, java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(w * 21600L + i)))
        }
      }
    val events = (rows("spiky", Seq(10, 10, 10, 25)) ++   // 25*3 > 30*2 → burst
      rows("calm", Seq(10, 10, 10, 15)))                  // 15*3 < 30*2 → no
      .toDF("event_type", "ts").withColumn("value", lit(0.0))
    val got = graft.streaming.Streaming.burstDetect(events)
      .collect()
      .map(r => (r.getString(0), r.getLong(1) / 21600, r.getBoolean(4))).toSet
    val bursts = got.filter(_._3)
    assert(bursts == Set(("spiky", 3L, true)), s"got $bursts")
    // warmup windows (fewer than 3 predecessors) never flag
    assert(got.filter(_._2 < 3).forall(!_._3))
  }

  test("sessions respect the 30-minute gap (no intra-session gap ≥ gap)") {
    // max intra-session gap must be < 30 min: recompute with islands and compare counts
    val sessions = Streaming.sessionize(Tables.events(spark, Sf0001))
    val nSessions = sessions.count()
    val nUsers = sessions.select("user_id").distinct().count()
    assert(nSessions >= nUsers) // every user has ≥1 session
    // total events across sessions == total events
    val total = sessions.agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == Tables.events(spark, Sf0001).count())
  }

  test("idempotent publish: redelivered micro-batches overwrite, never duplicate (exactly-once sink)") {
    val pub = s"${scratchDir("stream_publish_test_")}/pub"
    // checkpoints must be fresh per test run: a reused checkpoint marks
    // the landing files already-committed and no batch ever fires
    val ckptBase = s"$pub-ckpt-${java.util.UUID.randomUUID()}"
    val expected = Tables.events(spark, Sf0001).count()

    // drive the sink through a REAL foreachBatch stream over the landing dir
    def drain(checkpoint: String): Unit = {
      val q = Streaming.eventsStream(spark, landingDir)
        .select("event_id", "user_id", "event_type")
        .writeStream
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
          Streaming.idempotentPublish(batch, id, pub))
        .option("checkpointLocation", s"$ckptBase-$checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "publish stream did not drain")
    }
    drain("run1")
    assert(Streaming.readPublished(spark, pub).count() == expected)

    // crash-replay shape: a FRESH checkpoint redelivers every batchId —
    // a naive append sink would now hold 2× rows; the partition
    // overwrite holds row-identical
    drain("run2")
    assert(Streaming.readPublished(spark, pub).count() == expected,
      "redelivered batch duplicated rows — sink is not idempotent")
    // and a direct same-batchId replay (the foreachBatch at-least-once
    // contract in miniature) is also absorbed
    val b = Tables.events(spark, Sf0001).select("event_id", "user_id", "event_type")
    Streaming.idempotentPublish(b, 0L, pub)
    Streaming.idempotentPublish(b, 0L, pub)
    assert(Streaming.readPublished(spark, pub).count() == expected)
  }

  test("upsert snapshots: update-mode merge equals batch recompute and absorbs batchId replay") {
    import org.apache.spark.sql.functions._
    val base = scratchDir("upsert_test_")
    val ev = Tables.events(spark, Sf0001)
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000).cast("long")).as("vm"))
    val t0 = ev.agg(min("event_type")).head().getString(0)
    // the at-least-first-type/even-ids split q_stream_upsert stages:
    // batch 0 holds type t0 fully plus even ids; batch 1's UPDATE-mode
    // emission is the RUNNING TOTAL over both batches for every key it
    // touches (never t0) — v1 must carry t0's v0 row via the anti-join
    // and replace every other key's totals
    val upd0 = agg(ev.filter(col("event_type") === t0 ||
      pmod(col("event_id"), lit(2)) === 0))
    val upd1 = agg(ev).filter(col("event_type") =!= t0)
    Streaming.upsertSnapshot(upd0, 0L, Seq("event_type"), base)
    Streaming.upsertSnapshot(upd1, 1L, Seq("event_type"), base)
    val expect = agg(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def got() = Streaming.readUpserted(spark, base).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == expect, "merged panel != batch recompute")
    // at-least-once replay of the last batchId recomputes v1 from the
    // still-present v0 — byte-identical, never duplicated
    Streaming.upsertSnapshot(upd1, 1L, Seq("event_type"), base)
    assert(got() == expect, "batchId replay changed the panel")
    // a crash mid-write leaves a higher-numbered snapshot without
    // _SUCCESS: the reader must skip it and keep serving v1
    upd0.write.parquet(s"$base/v7")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$base/v7/_SUCCESS"))
    assert(got() == expect, "reader served an incomplete snapshot")
  }

  /** Stage the sf0.001 documents as three landing files (so
    * `maxFilesPerTrigger=1` yields three micro-batches) and return the
    * staging dir. */
  private def stageDocBatches(dir: String): Unit = {
    val docs = Tables.documents(spark, Sf0001)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Seq(
      docs.filter(col("doc_id") < 150),
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 350),
      docs.filter(col("doc_id") >= 350)
    ).zipWithIndex.foreach { case (part, i) =>
      part.coalesce(1).write.mode("overwrite").parquet(s"$dir/b$i")
      Thread.sleep(20)
    }
  }

  test("multi-batch streamed featurization through the idempotent sink == batch featureHash") {
    val base = scratchDir("stream_features_test_")
    stageDocBatches(s"$base/landing")
    val pub = s"$base/pub"
    val q = Streaming.documentsStream(spark, s"$base/landing/b*", maxFilesPerTrigger = Some(1))
      .writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Streaming.idempotentPublish(
          graft.operators.TextOps.featureHash(batch, "doc_id", "text", 64), id, pub))
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "feature stream did not drain")
    // ≥2 batch partitions actually published (the cross-batch shape)
    assert(spark.read.parquet(pub).select("_batch_id").distinct().count() >= 2)
    val streamed = Streaming.readPublished(spark, pub)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.TextOps
      .featureHash(Tables.documents(spark, Sf0001), "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, "streamed features diverge from batch featurization")
  }

  test("streamed reservoir panel maintenance: per-batch merge-append == batch bottom-k") {
    import graft.operators.Splits
    val base = scratchDir("stream_panel_test_")
    stageDocBatches(s"$base/landing")
    val panel = s"$base/panel"
    val n = 8
    val q = Streaming.documentsStream(spark, s"$base/landing/b*", maxFilesPerTrigger = Some(1))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val merged =
          if (new java.io.File(panel).exists())
            Splits.reservoirAppend(
              spark.read.parquet(panel), batch, "doc_id", "lang", "panel", n)
          else Splits.reservoirSample(batch, "doc_id", "lang", "panel", n)
        // materialize before overwriting the path the plan reads from;
        // the panel is n·groups rows by construction, so this is tiny
        merged.localCheckpoint().write.mode("overwrite").parquet(panel)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "panel stream did not drain")
    val streamed = spark.read.parquet(panel)
      .select("doc_id", "lang", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val full = Splits.reservoirSample(
        Tables.documents(spark, Sf0001), "doc_id", "lang", "panel", n)
      .select("doc_id", "lang", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == full,
      "panel maintained across micro-batches diverges from the batch sample")
  }

  test("checkpoint restart resumes incrementally: only files landed since the last run are processed") {
    // the operational restart contract at 100 TB: a nightly AvailableNow
    // run over an object-store prefix must process ONLY what landed since
    // the last run (source file log), while the idempotent sink keeps the
    // published table correct across the restarts
    val dir = java.nio.file.Paths.get(scratchDir("stream_restart_test_"))
    val pub = s"${scratchDir("stream_restart_pub_")}/pub"
    val ckpt = s"$pub-ckpt-${java.util.UUID.randomUUID()}"

    def land(name: String): Unit =
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$Sf0001/events.parquet"), dir.resolve(name))
    def drain(): Unit = {
      val q = Streaming.eventsStream(spark, dir.toString)
        .select("event_id", "user_id", "event_type")
        .writeStream
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
          Streaming.idempotentPublish(batch, id, pub))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "restart stream did not drain")
    }

    val perFile = Tables.events(spark, Sf0001).count()
    land("a.parquet")
    drain()
    assert(Streaming.readPublished(spark, pub).count() == perFile)

    // "overnight": one more file lands; the restarted query must process
    // exactly it — total doubles, and the second run's batch partition
    // holds only the new file's rows
    land("b.parquet")
    drain()
    val published = spark.read.parquet(pub)
    assert(published.count() == 2 * perFile)
    // partition-column values are string-inferred; cast for a stable type
    val perBatch = published.groupBy(col("_batch_id").cast("long").as("bid"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBatch.size == 2 && perBatch.values.forall(_ == perFile),
      s"restart did not process exactly the landed delta: $perBatch")
  }

  test("in-stream compaction: serving read == batch rebuild, snapshot versioned, ingestion uninterrupted") {
    import graft.operators.VectorSearch
    import graft.functions.Metric
    val b = scratchDir("spec_stream_compact_")
    val emb = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding", "label")
    emb.repartition(3).write.parquet(s"$b/landing")
    val stream = VectorSearch.lshBucketTable(
        Streaming.embeddingsStream(spark, s"$b/landing", maxFilesPerTrigger = Some(1)),
        "embedding", "vec_id", Metric.Cosine, Tables.EmbeddingDim,
        bits = 8, bands = 4)
      .select(col("vec_id"), col("band").cast("long").as("band"), col("bucket"))
      .writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Streaming.compactingIndexAppend(batch, id, s"$b/frag", s"$b/compact", cadence = 2))
      .option("checkpointLocation", s"$b/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(stream.awaitTermination(300000), "compacting stream did not drain")

    // a compaction fired mid-stream (3 one-file batches, cadence 2 ->
    // snapshot c1) and later batches kept appending fragments
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$b/compact/c1/_SUCCESS")),
      "no complete compact snapshot")
    val post = spark.read.parquet(s"$b/frag")
      .filter(col("batch_id").cast("long") > 1)
    assert(post.count() > 0, "no fragments landed after the compaction")

    // serving read equals the batch rebuild exactly
    val served = Streaming.readCompactedIndex(spark, s"$b/frag", s"$b/compact")
      .select("vec_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rebuilt = VectorSearch.lshBucketTable(emb, "embedding", "vec_id",
        Metric.Cosine, Tables.EmbeddingDim, bits = 8, bands = 4)
      .select(col("vec_id"), col("band").cast("long").as("band"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == rebuilt, "streamed-compacted index diverged from rebuild")

    // at-least-once replay: redelivering a batchId (crash between the
    // fragment write and the offset commit) must OVERWRITE its own
    // batch_id partition, not append a duplicate for the next
    // compaction to bake into the snapshot
    // materialize the redelivered batch (localCheckpoint cuts the
    // lineage back to $b/frag, which the replay write overwrites)
    val lastBatch = spark.read.parquet(s"$b/frag")
      .filter(col("batch_id").cast("long") === 2)
      .select("vec_id", "band", "bucket")
      .localCheckpoint()
    Streaming.compactingIndexAppend(lastBatch, 2L, s"$b/frag", s"$b/compact",
      cadence = 2)
    val replayed = Streaming.readCompactedIndex(spark, s"$b/frag", s"$b/compact")
      .select("vec_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(replayed == rebuilt, "batchId replay duplicated fragment rows")
    assert(spark.read.parquet(s"$b/frag").count() == rebuilt.size,
      "replay appended instead of overwriting its batch partition")

    // a compaction that crashed mid-write leaves a higher-numbered
    // snapshot without _SUCCESS: serving must skip it (reading it would
    // drop every fragment it claims to cover)
    spark.read.parquet(s"$b/compact/c1").filter(col("band") === 0)
      .write.partitionBy("band").parquet(s"$b/compact/c9")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$b/compact/c9/_SUCCESS"))
    val skipped = Streaming.readCompactedIndex(spark, s"$b/frag", s"$b/compact")
      .select("vec_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(skipped == rebuilt, "serving read an incomplete compact snapshot")
  }
}
