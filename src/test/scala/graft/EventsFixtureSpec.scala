package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streaming

/** Regression pin for the events-fixture `ts` TYPE CONTRACT (VERDICT r6):
  * the driver has shipped the fixture both as TIMESTAMP(MICROS) and as
  * int64 nanos across rounds, and hard-coding either loses the whole
  * events/streaming component when the encoding flips. [[Tables.events]]
  * and [[Streaming.eventsStream]] must branch on the parquet FOOTER type
  * and produce identical rows over both encodings.
  */
class EventsFixtureSpec extends SparkSpec {

  /** Rewrite the sf0.001 events fixture under `base` twice: once with
    * `ts` as a real timestamp (micros footer) and once as int64 nanos
    * (the legacy encoding — physically a plain int64 column, which reads
    * back LongType exactly like the old TIMESTAMP(NANOS) fixture did
    * under `nanosAsLong`). Returns (microsDir, nanosDir). */
  private lazy val encodedDirs: (String, String) = {
    val base = suiteScratchDir("events_encoding_test_")
    val src = Tables.events(spark, Sf0001) // ts: TimestampType (µs)
    val micros = s"$base/micros"
    val nanos = s"$base/nanos"
    src.coalesce(1).write.parquet(s"$micros/events.parquet")
    src.withColumn("ts", unix_micros(col("ts")) * 1000L)
      .coalesce(1).write.parquet(s"$nanos/events.parquet")
    (micros, nanos)
  }

  test("Tables.events reads the micros and nanos encodings identically") {
    val (micros, nanos) = encodedDirs
    val a = Tables.events(spark, micros)
    val b = Tables.events(spark, nanos)
    assert(a.schema("ts").dataType.typeName == "timestamp")
    assert(b.schema("ts").dataType.typeName == "timestamp")
    val ka = a.select("event_id", "ts").orderBy("event_id").collect().toSeq
    val kb = b.select("event_id", "ts").orderBy("event_id").collect().toSeq
    assert(ka == kb, "ts diverged between fixture encodings")
    assert(ka.nonEmpty)
    // and both equal the real fixture's rows
    val real = Tables.events(spark, Sf0001)
      .select("event_id", "ts").orderBy("event_id").collect().toSeq
    assert(ka == real)
  }

  test("eventsStream reads the micros and nanos encodings identically (streaming==batch over both)") {
    val (micros, nanos) = encodedDirs
    def drain(dir: String, name: String): Map[Long, java.sql.Timestamp] = {
      val q = Streaming.eventsStream(spark, dir + "/events.parquet")
        .select("event_id", "ts")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), s"$name did not drain")
      spark.table(name).collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    }
    val a = drain(micros, "enc_micros_stream")
    val b = drain(nanos, "enc_nanos_stream")
    assert(a == b, "streamed ts diverged between fixture encodings")
    val batch = Tables.events(spark, Sf0001).select("event_id", "ts")
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(a == batch, "streamed rows diverged from the batch reader")
  }
}
