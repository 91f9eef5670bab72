package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.Sources

/** Source-format layer: schema-explicit CSV/JSONL readers, corrupt-row
  * visibility (PERMISSIVE + named corrupt column — a pipeline must
  * account for every input row, not silently drop parse failures), and
  * round-trip fidelity against the parquet fixture. */
class SourcesSpec extends SparkSpec {

  private val schema = new StructType()
    .add("id", LongType)
    .add("name", StringType)

  private def tmp(): String = scratchDir("src_test_")

  test("jsonl: malformed lines land in the corrupt column, clean rows parse") {
    val dir = tmp()
    Files.writeString(Paths.get(dir, "part-0.json"),
      """{"id": 1, "name": "a"}
        |this is not json
        |{"id": 2, "name": "b"}
        |""".stripMargin)
    val (good, bad) = Sources.split(Sources.jsonl(spark, dir, schema))
    assert(good.count() == 2)
    val badRows = bad.collect()
    assert(badRows.length == 1)
    assert(badRows(0).getAs[String](Sources.CorruptCol).contains("not json"))
  }

  test("csv: type-mismatched rows land in the corrupt column") {
    val dir = tmp()
    Files.writeString(Paths.get(dir, "part-0.csv"),
      """id,name
        |1,a
        |not_a_number,b
        |2,c
        |""".stripMargin)
    val (good, bad) = Sources.split(Sources.csv(spark, dir, schema))
    assert(good.count() == 2)
    assert(bad.count() == 1)
  }

  test("compaction collapses a many-small-files table into few sized files") {
    val dir = tmp()
    val docs = Tables.documents(spark, Sf0001)
    // simulate the streaming-sink pathology: 64 tiny files
    docs.repartition(64).write.mode("overwrite").parquet(s"$dir/small")
    val nSmall = new java.io.File(s"$dir/small").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nSmall == 64)
    val parts = graft.sources.Compaction.compact(
      spark, s"$dir/small", s"$dir/compacted", targetBytes = 1L << 40)
    assert(parts == 1, s"expected a single 128MB-class file, planned $parts")
    val nOut = new java.io.File(s"$dir/compacted").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nOut == 1)
    // content preserved
    val back = spark.read.parquet(s"$dir/compacted")
    assert(back.count() == docs.count())
    assert(back.agg(org.apache.spark.sql.functions.sum("doc_id")).collect()(0).getLong(0) ==
      docs.agg(org.apache.spark.sql.functions.sum("doc_id")).collect()(0).getLong(0))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged exactly") {
    import spark.implicits._
    val oldSnap = Seq((1L, "same"), (2L, "before"), (3L, "gone"))
      .toDF("doc_id", "text")
    val newSnap = Seq((1L, "same"), (2L, "after"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val got = Sources.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("documents round-trip parquet -> jsonl/csv -> DataFrame losslessly") {
    val docs = Tables.documents(spark, Sf0001)
    val dir = tmp()
    Sources.writeJsonl(docs, s"$dir/jsonl")
    Sources.writeCsv(docs, s"$dir/csv")
    val expected = docs.collect().map(_.toSeq).toSet
    for (fmt <- Seq("jsonl", "csv")) {
      val back =
        if (fmt == "jsonl") Sources.good(Sources.jsonl(spark, s"$dir/jsonl", docs.schema))
        else Sources.good(Sources.csv(spark, s"$dir/csv", docs.schema))
      assert(back.collect().map(_.toSeq).toSet == expected, s"$fmt round-trip diverged")
    }
  }
}
