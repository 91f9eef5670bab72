package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Custom per-user running state for [[Streaming.userRunningStats]]. */
final case class UserState(n_events: Long, value_milli_sum: Long, last_epoch: Long)

/** One input event row for the stateful path (typed boundary). */
final case class UserEvent(user_id: Long, epoch: Long, value_milli: Long)

/** Emitted state row. */
final case class UserStats(user_id: Long, n_events: Long, value_milli_sum: Long, last_epoch: Long)

/** Input row for [[Streaming.closedSessions]] — carries the raw
  * timestamp: the WATERMARKED column must survive into the stateful
  * operator (projecting it away fails analysis with "Event-time timeout
  * not supported without watermark"). */
final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp) {
  def epoch: Long = ts.getTime / 1000L
}

/** Open-session state for [[Streaming.closedSessions]]. */
final case class OpenSession(start_epoch: Long, last_epoch: Long, n_events: Long)

/** A finalized session, emitted exactly once. */
final case class ClosedSession(
    user_id: Long, session_start_epoch: Long, session_end_epoch: Long, n_events: Long)

/** Structured Streaming surface over the `events` table (an extension —
  * the reference is fully synchronous request/response, SURVEY §2.2).
  * Every transform below is batch/stream agnostic: the same function
  * builds the batch plan (used by the oracle-checked queries) and the
  * streaming plan (used with `readStream` + a trigger).
  *
  * Scale/streaming design: tumbling windows + watermark bound state;
  * session windows use Spark's native `session_window` (state merges
  * per user key); sums are integer-exact (milli-units) so results are
  * reproducible regardless of partition/arrival order.
  */
object Streaming {

  /** events fixture schema (TESTDATA.md) — needed by `readStream`
    * (`FileStreamSource` requires a user-supplied schema). The fixture
    * has stored `ts` two ways across rounds (TIMESTAMP(MICROS) vs
    * int64-nanos), so the schema is a FUNCTION of the observed footer
    * type, never an assumption: [[eventsStream]] sniffs the landing
    * dir with a batch read and passes the result here. Declaring the
    * wrong type is silently destructive — a LongType schema over a
    * micros column hands back raw micros and a downstream `div 1000`
    * compresses event time 1000× (the round-6 q_stream_ingest failure,
    * VERDICT r6 §What's wrong #2). */
  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window counts + exact milli-sums per event type. Output is
    * scalar (epoch seconds), deterministic across engines and across
    * batch/streaming execution. */
  def windowedCounts(
      events: DataFrame,
      windowDur: String = "10 minutes",
      watermark: Option[String] = None,
      slide: Option[String] = None): DataFrame = {
    val base = watermark.fold(events)(w => events.withWatermark("ts", w))
    val w = slide.fold(window(col("ts"), windowDur))(sl => window(col("ts"), windowDur, sl))
    base
      .groupBy(w.as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000).cast("long")).as("value_milli_sum"))
      .select(
        unix_timestamp(col("w.start")).as("window_start_epoch"),
        col("event_type"), col("n_events"), col("value_milli_sum"))
  }

  /** Rate-spike (burst) detection: tumbling per-type windows, each
    * window flagged when its count exceeds 2× the mean of the trailing
    * `3` OBSERVED windows (rows, not time — gaps collapse) — the
    * alerting primitive over an event stream, in exact integer
    * arithmetic (`3·n > 2·Σprev` avoids division entirely, so the flag
    * is bit-deterministic cross-engine; windows with fewer than 3
    * predecessors never flag).
    *
    * Scale shape: the window function runs over the AGGREGATED
    * (type × window) frame — low-cardinality per-type partitions of
    * stat-sized rows, never the raw log. Batch form; the streaming face
    * would keep the trailing sums in `mapGroupsWithState`. */
  def burstDetect(
      events: DataFrame,
      windowDur: String = "6 hours",
      factorNum: Int = 2,
      trailing: Int = 3): DataFrame =
    burstFlags(windowedCounts(events, windowDur), factorNum, trailing)

  /** The alert pass of [[burstDetect]], split out so it runs equally
    * over a batch aggregation or a TABLE OF STREAMED WINDOW COUNTS —
    * the standard streaming-agg + batch-alerting split (window
    * functions cannot run inside a streaming query; the windows
    * [[windowedCounts]] emits are exactly this pass's input —
    * streaming==batch pinned in StreamingSpec). */
  def burstFlags(
      counts: DataFrame,
      factorNum: Int = 2,
      trailing: Int = 3): DataFrame = {
    val frame = Window.partitionBy("event_type").orderBy("window_start_epoch")
      .rowsBetween(-trailing, -1)
    counts
      .select(col("window_start_epoch"), col("event_type"), col("n_events"))
      .withColumn("__psum", sum("n_events").over(frame))
      .withColumn("__pn", count(lit(1)).over(frame))
      .withColumn("is_burst",
        col("__pn") === trailing &&
          col("n_events") * trailing > col("__psum") * factorNum)
      .select(col("event_type"), col("window_start_epoch"), col("n_events"),
        coalesce(col("__psum"), lit(0L)).as("prev_sum"), col("is_burst"))
  }

  /** Per-user sessionization with a max-gap window (session ends after
    * `gap` of silence). Output: user_id, session start (epoch s), event
    * count. */
  def sessionize(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: Option[String] = None): DataFrame = {
    val base = watermark.fold(events)(w => events.withWatermark("ts", w))
    base
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_timestamp(col("sw.start")).as("session_start_epoch"),
        col("n_events"))
  }

  /** Arbitrary stateful processing (`mapGroupsWithState`): a per-user
    * running aggregate the built-in windowed aggs can't express as-is
    * (count + exact milli-sum + last-seen, updated per micro-batch).
    * Works identically on a batch frame (Spark runs the state function
    * once per group) and a stream (state persists across batches) —
    * StreamingSpec asserts both paths agree. All state fields are exact
    * integers, so results are arrival-order independent. */
  def userRunningStats(events: DataFrame): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(
      col("user_id"),
      unix_timestamp(col("ts")).as("epoch"),
      floor(col("value") * 1000).cast("long").as("value_milli"))
      .as[UserEvent]
    typed
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserStats](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
          var n = prev.n_events
          var s = prev.value_milli_sum
          var last = prev.last_epoch
          rows.foreach { e =>
            n += 1
            s += e.value_milli
            if (e.epoch > last) last = e.epoch
          }
          val next = UserState(n, s, last)
          state.update(next)
          UserStats(userId, next.n_events, next.value_milli_sum, next.last_epoch)
      }
  }

  /** Output mode required by [[userRunningStats]] under a stream. */
  val RunningStatsOutputMode: OutputMode = OutputMode.Update()

  /** Sessions emitted exactly once, ON CLOSE — `flatMapGroupsWithState`
    * with an EVENT-TIME timeout (the state feature [[sessionize]]'s
    * built-in `session_window` cannot express: emit-on-final with custom
    * state). While a user keeps producing events within `gapSecs`, the
    * open session lives in state and nothing is emitted; a later event
    * beyond the gap closes it inline, and the WATERMARK passing
    * `last_event + gap` closes it by timeout (fired on a subsequent
    * micro-batch even if the user never appears again). Append-mode
    * output; state is bounded by (open sessions × state row), and the
    * timeout clamps to just above the current watermark because Spark
    * rejects timestamps at/below it. The watermark is applied HERE, on
    * the ts column itself — it must ride into the stateful operator. */
  def closedSessions(
      events: DataFrame, gapSecs: Long, watermark: String): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", watermark)
      .as[SessionEvent]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(userId, s.start_epoch, s.last_epoch, s.n_events))
          } else {
            // order within the batch: state transitions are sequential in
            // event time regardless of arrival order inside a micro-batch
            val sorted = rows.toArray.sortBy(_.epoch)
            val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var open = state.getOption
            sorted.foreach { e =>
              open match {
                case Some(s) if e.epoch <= s.last_epoch + gapSecs =>
                  open = Some(OpenSession(s.start_epoch, math.max(s.last_epoch, e.epoch), s.n_events + 1))
                case Some(s) =>
                  closed += ClosedSession(userId, s.start_epoch, s.last_epoch, s.n_events)
                  open = Some(OpenSession(e.epoch, e.epoch, 1))
                case None =>
                  open = Some(OpenSession(e.epoch, e.epoch, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(math.max(
                (s.last_epoch + gapSecs) * 1000L,
                state.getCurrentWatermarkMs() + 1000L))
            }
            closed.iterator
          }
      }
  }

  /** Event-pair correlation: for each event, the events by the SAME user
    * within the following `withinSeconds` (exclusive of itself) — e.g.
    * "view followed by click". As a stream-stream self-join both sides
    * need watermarks and the join condition must time-bound both event
    * times (bounds the join state); the same function builds the batch
    * plan for the oracle-checked query. Output is scalar + exact. */
  def correlatedPairs(
      left: DataFrame,
      right: DataFrame,
      withinSeconds: Int): DataFrame = {
    val a = left.select(
      col("event_id").as("a_id"), col("user_id"),
      col("ts").as("a_ts"), col("event_type").as("a_type"))
    val b = right.select(
      col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("ts").as("b_ts"), col("event_type").as("b_type"))
    a.join(b,
      col("user_id") === col("b_user") &&
        col("a_id") =!= col("b_id") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $withinSeconds SECONDS"))
      .select(
        col("a_id"), col("b_id"), col("user_id"),
        col("a_type"), col("b_type"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_micros"))
  }

  /** Streaming exact dedup — the INGEST-time form of the dedup north
    * star: drop rows whose key was already seen, keeping the first
    * arrival. With a watermark the state is BOUNDED:
    * `dropDuplicatesWithinWatermark` evicts seen-keys older than the
    * delay, which is the correct contract for at-least-once upstream
    * sources (a redelivery arrives within bounded lateness; an unbounded
    * seen-set would OOM a year-long stream). Without a watermark this
    * degrades to the batch `dropDuplicates` — same function serves the
    * differential test. */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: Option[String] = None): DataFrame =
    watermark match {
      case Some(w) =>
        events.withWatermark("ts", w).dropDuplicatesWithinWatermark(keyCols)
      case None => events.dropDuplicates(keyCols)
    }

  /** An events file stream over a DIRECTORY of parquet files — the real
    * streaming ingest shape (files arrive in a landing dir; each
    * micro-batch picks up new ones; `Trigger.AvailableNow` drains the
    * backlog like a batch). Spark's `FileStreamSource` cannot stream a
    * single bare file, so callers stage fixture files into a directory
    * first. The `ts` footer type is SNIFFED with a one-file batch read
    * (footer IO only — no data scan) and the stream schema mirrors it;
    * the type branch mirrors [[graft.Tables.events]] so stream and
    * batch read the same rows over either fixture encoding.
    *
    * CONTRACT (ADVICE r7): the subscribe-before-files shape — an
    * EMPTY landing dir at subscribe time — falls back to the current
    * fixture encoding (TIMESTAMP micros), because there is no footer
    * to sniff yet. That fallback is MICROS-ONLY: if files encoded as
    * int64 nanos land after an empty-dir subscription, the declared
    * micros schema mismatches their physical type and the micro-batch
    * FAILS (Spark refuses the INT64(NANOS)→timestamp conversion)
    * rather than silently mis-scaling event time; re-subscribe after
    * the first file lands to get the sniffed nanos path. A NON-empty
    * dir with no readable footer is a staging bug and throws here.
    *
    * Conf hygiene: the legacy `nanosAsLong` flag is scoped to the
    * sniff and restored on the micros path; it stays set only when the
    * landing dir actually holds nanos files (the stream re-reads the
    * flag from the live session conf at every micro-batch plan). */
  def eventsStream(
      spark: SparkSession,
      landingDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    def restore(): Unit = prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    spark.conf.set(key, "true")
    val sniffed = try sniffSchema(spark, landingDir)
      catch { case e: Throwable => restore(); throw e }
    if (sniffed.isEmpty && hasDataFiles(spark, landingDir)) {
      restore()
      throw new IllegalStateException(
        s"events landing dir $landingDir contains files but no readable " +
          "parquet footer — staged fixture is corrupt or mis-typed")
    }
    val tsType = sniffed.map(_("ts").dataType).getOrElse(TimestampType)
    if (tsType != LongType) restore() // nanos decode needs the conf live
    val reader = spark.readStream.schema(eventsSchema(tsType))
    // rate limit = micro-batch pacing: with AvailableNow each file
    // becomes its own batch, which is what lets a staged landing dir
    // exercise cross-batch watermark advancement (timeout flushing)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.parquet(landingDir)
    tsType match {
      case LongType => // int64-nanos legacy fixture
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _: TimestampType => raw
      case other => throw new IllegalStateException(
        s"events landing dir $landingDir has unsupported ts type $other")
    }
  }

  /** Idempotent micro-batch publish — the EXACTLY-ONCE SINK side of the
    * streaming story (the sources above cover exactly-once reads via the
    * FileStreamSource log). `foreachBatch` delivers (batch, batchId) with
    * AT-LEAST-ONCE semantics: after a crash between "sink written" and
    * "offsets committed", the SAME batchId is redelivered and a naive
    * append duplicates it. Writing each batch into its own
    * `_batch_id=<id>` partition with DYNAMIC partition overwrite makes
    * replay overwrite byte-identical data instead of appending —
    * idempotence from layout, no transaction log needed, which is the
    * portable exactly-once contract on any object store that supports
    * atomic directory replace. Readers see the union of batch
    * partitions; `_batch_id` is a physical-layout column the logical
    * schema drops on read ([[readPublished]]).
    *
    * StreamingSpec pins the contract: replaying a batchId leaves the
    * published table row-identical. */
  def idempotentPublish(batch: DataFrame, batchId: Long, path: String): Unit =
    overwriteBatchPartition(batch.withColumn("_batch_id", lit(batchId)), "_batch_id", path)

  /** Write `df` partitioned by `partCol` with DYNAMIC partition
    * overwrite: only the partitions present in `df` are replaced, so a
    * replayed batch overwrites its own partition byte-identically.
    * `partitionOverwriteMode` is session-wide, so the write holds the
    * session lock and restores the previous mode afterwards. */
  private def overwriteBatchPartition(df: DataFrame, partCol: String, path: String): Unit = {
    val spark = df.sparkSession
    spark.synchronized {
      val conf = spark.conf
      val prev = conf.getOption("spark.sql.sources.partitionOverwriteMode")
      conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try df.write.mode("overwrite").partitionBy(partCol).parquet(path)
      finally prev match {
        case Some(v) => conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** The highest-numbered COMPLETE snapshot dir `<prefix><n>` under
    * `basePath` (`_SUCCESS` present — a crash mid-write leaves a partial
    * dir that must not be served) with its number `n`; None when there
    * is none, or no `basePath`. */
  private def latestComplete(spark: SparkSession, basePath: String,
      prefix: String): Option[(String, Long)] = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) None
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        val n = p.getName.stripPrefix(prefix)
        p.getName.startsWith(prefix) && n.nonEmpty && n.forall(_.isDigit) &&
          fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      }
      .map(p => p.toString -> p.getName.stripPrefix(prefix).toLong)
      .maxByOption(_._2)
  }

  /** The logical view over an [[idempotentPublish]] table: batch
    * partitions unioned, the layout column dropped. */
  def readPublished(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("_batch_id")

  /** UPDATE-MODE upsert sink — the panel-maintenance counterpart of
    * [[idempotentPublish]] (which is append-shaped): an update-mode
    * streaming aggregation hands `foreachBatch` only the keys whose
    * totals CHANGED this micro-batch, and the sink must merge them
    * into a persisted keyed table. Parquet has no row-level merge, so
    * the merge is a versioned SNAPSHOT chain: snapshot `v(n)` =
    * `v(n-1)` minus the batch's keys (left_anti) union the batch's
    * fresh rows, written to its own `v(n)` directory. Idempotence
    * under at-least-once redelivery falls out of the layout, exactly
    * as in [[idempotentPublish]]: a replayed batchId recomputes
    * `v(n)` from the still-present `v(n-1)` and overwrites it
    * byte-identically — no transaction log needed.
    *
    * Scale shape: the maintained table is an AGGREGATE PANEL (one row
    * per key × metrics — KB..MB even when the corpus is 100 TB), so
    * the per-batch O(panel) rewrite is the standard plain-parquet
    * foreachBatch-merge idiom; the CORPUS never rewrites. A
    * table-format sink (merge-on-read) swaps in behind the same
    * (batch, keys) contract when the maintained table itself is
    * large. StreamingSpec pins replay idempotence; q_stream_upsert
    * certifies streamed-merged == batch recompute under the gate. */
  def upsertSnapshot(batch: DataFrame, batchId: Long, keyCols: Seq[String],
      basePath: String): Unit = {
    val spark = batch.sparkSession
    val prevPath = s"$basePath/v${batchId - 1}"
    val fs = new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val merged =
      if (batchId > 0 && fs.exists(new org.apache.hadoop.fs.Path(prevPath))) {
        val prev = spark.read.parquet(prevPath)
        prev.join(batch.select(keyCols.map(col): _*).distinct(),
            keyCols, "left_anti")
          .unionByName(batch)
      } else batch
    merged.write.mode("overwrite").parquet(s"$basePath/v$batchId")
  }

  /** The current state of an [[upsertSnapshot]] chain: the
    * highest-versioned COMPLETE snapshot (`_SUCCESS` present — a
    * crash mid-write leaves a partial dir that must not be served). */
  def readUpserted(spark: SparkSession, basePath: String): DataFrame = {
    val latest = latestComplete(spark, basePath, "v")
    require(latest.nonEmpty, s"no complete upsert snapshot under $basePath")
    spark.read.parquet(latest.get._1)
  }

  /** Documents FileStreamSource — the corpus-ingest side of the
    * streaming story: freshly crawled docs land as parquet files and
    * flow through the SAME stateless per-doc operators (featurization,
    * quality scores, scrubbing) the batch pipeline uses. The stream
    * schema is SNIFFED from the landing dir's footers (footer IO only),
    * not hard-coded — the round-6 events regression showed a
    * user-supplied schema silently mis-reads a regenerated fixture
    * whose physical types drifted. */
  def documentsStream(
      spark: SparkSession,
      landingDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = sniffSchema(spark, landingDir).getOrElse(StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))))
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(landingDir)
  }

  /** Footer-faithful schema of a landing dir, or None when the dir has
    * no readable parquet yet (the subscribe-before-files shape — the
    * caller falls back to the documented fixture schema). */
  private def sniffSchema(spark: SparkSession, landingDir: String): Option[StructType] =
    try Some(spark.read.parquet(landingDir).schema)
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** True when the landing dir holds at least one data file (ignoring
    * `_`/`.`-prefixed bookkeeping) — used to tell the legitimate
    * subscribe-before-files empty dir from a botched staging whose
    * files have no readable parquet footer. Hadoop FS API, not NIO, so
    * the check works on an object-store landing prefix too. */
  private def hasDataFiles(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Embeddings FileStreamSource with the same float→double widening as
    * [[graft.Tables.embeddings]] — the streaming-ingest side of index
    * maintenance: freshly arrived vectors flow through the SAME
    * stateless bucket/code assignment the batch index build uses
    * (assignments are pure per-row functions, so stream-maintained
    * index tables equal a batch rebuild — pinned in StreamingSpec).
    * Schema footer-sniffed as in [[documentsStream]]; the widening cast
    * is a no-op if the fixture ever ships doubles. */
  def embeddingsStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = sniffSchema(spark, landingDir).getOrElse(StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader
      .parquet(landingDir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
  }

  /** foreachBatch body for streamed index maintenance WITH a periodic
    * compaction trigger — the last batch-initiated step of the index
    * lifecycle moved into the stream itself: each micro-batch's index
    * rows append to `fragDir` tagged with their `batch_id`, and every
    * `cadence`-th batch the accumulated fragments are rewritten into a
    * band-partitioned compact snapshot `compactBase/c<batchId>`
    * (covering every batch ≤ batchId). Ingestion never pauses: later
    * batches keep appending to `fragDir`, and [[readCompactedIndex]]
    * serves snapshot ∪ newer fragments. Snapshots are versioned —
    * compaction never rewrites a file a concurrent reader might hold
    * open (the same crash/consistency contract as [[upsertSnapshot]]:
    * a partial snapshot has no `_SUCCESS` and is never served).
    *
    * Fragments land in per-`batch_id` PARTITIONS with dynamic
    * partition overwrite — the [[idempotentPublish]] idiom — because
    * `foreachBatch` is at-least-once: a batchId redelivered after a
    * crash between the fragment write and the offset commit must
    * OVERWRITE its own partition byte-identically, not append a second
    * copy for the next compaction to bake into the served snapshot.
    * StreamingSpec pins the replay. */
  def compactingIndexAppend(batch: DataFrame, batchId: Long,
      fragDir: String, compactBase: String, cadence: Int): Unit = {
    overwriteBatchPartition(batch.withColumn("batch_id", lit(batchId)).repartition(4),
      "batch_id", fragDir)
    if (batchId % cadence == cadence - 1)
      graft.operators.VectorSearch.compactIndex(
        batch.sparkSession, fragDir, s"$compactBase/c$batchId")
  }

  /** Serving read of a [[compactingIndexAppend]] table: the latest
    * COMPLETE compact snapshot (its `c<id>` name records the highest
    * batch it covers) plus every fragment batch appended after it;
    * before the first compaction, the fragments alone. */
  def readCompactedIndex(spark: SparkSession, fragDir: String,
      compactBase: String): DataFrame = {
    def typed(df: DataFrame) = df.select(col("vec_id"),
      col("band").cast("long").as("band"), col("bucket"),
      col("batch_id").cast("long").as("batch_id"))
    // Layout-break guard (r9 ADVICE): before r9, fragments were FLAT
    // append files carrying batch_id as a DATA column; since r9 they are
    // batch_id= partition directories (the idempotentPublish contract).
    // A fragment dir written partly by each layout would mis-merge (the
    // flat files' batch_id column vs the dirs' partition values) — fail
    // loudly instead of serving a corrupted index. Migration: rewrite
    // flat fragments once via compactingIndexAppend, or compact them
    // into a snapshot and delete the flat files. See MIGRATION.md.
    locally {
      val frag = new org.apache.hadoop.fs.Path(fragDir)
      val ffs = frag.getFileSystem(spark.sessionState.newHadoopConf())
      if (ffs.exists(frag)) {
        val entries = ffs.listStatus(frag)
        val hasFlat = entries.exists(e =>
          e.isFile && e.getPath.getName.endsWith(".parquet"))
        val hasPart = entries.exists(e =>
          e.isDirectory && e.getPath.getName.startsWith("batch_id="))
        require(!(hasFlat && hasPart),
          s"fragment dir $fragDir mixes the pre-r9 flat layout (*.parquet " +
            "with a batch_id data column) and the r9 batch_id= partition " +
            "layout; reading both would mis-merge — migrate the flat files " +
            "(MIGRATION.md 'Streamed-index fragment layout') before serving")
      }
    }
    latestComplete(spark, compactBase, "c") match {
      case None => typed(spark.read.parquet(fragDir))
      case Some((latest, covered)) =>
        typed(spark.read.parquet(latest))
          .unionByName(typed(spark.read.parquet(fragDir))
            .filter(col("batch_id") > covered))
    }
  }
}
