package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{VectorTable, VectorTableConfig}
import graft.functions.Metric
import graft.operators._
import graft.streaming.Streaming

/** One benchmark workload: a set-up, then repeated units (a pipeline pass
  * or one op of a closed loop), each made of timed, checked ops. */
trait Workload {
  /** Load inputs, build whatever the loop reads, warm up. */
  def setup(): Unit
  /** Run unit `i`; ops are recorded on the recorder. */
  def unit(i: Int): Unit
  /** Numbers the metrics need that are not op timings. */
  def facts(): Map[String, Double]
  /** Release cached data so a repeated set-up starts clean. */
  def close(): Unit = ()
  /** Whether unit `i` of a traced run records spans; the others measure
    * the tracing overhead. */
  def traced(i: Int): Boolean = i % 2 == 1
  /** Units a run completes even when `seconds` has passed. */
  def minUnits: Int = 1
}

object Workload {
  def apply(name: String, spark: SparkSession, cfg: Config, rec: Recorder, work: File): Workload =
    name match {
      case "curate_pipeline" => new CuratePipeline(spark, cfg, rec)
      case "vector_mixed" => new VectorMixed(spark, cfg, rec, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Materialize a frame the way a staged pipeline persists a stage. */
  def force(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  def readVectors(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).withColumn("embedding", col("embedding").cast("array<double>"))

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def fileCount(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else Option(f.listFiles).map(_.map(fileCount).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Web.urlFilter → TextOps.qualityMetrics → TextOps.dedupExact →
  * Sketches.minhashCandidates → exact Jaccard verify → Graph components →
  * Splits.assignSplit → TextOps.bpeLearnMerges + tokenizerFertilityBpe.
  * One unit is one pass over the documents; each stage's output is
  * materialized before the next stage reads it. */
final class CuratePipeline(spark: SparkSession, cfg: Config, rec: Recorder) extends Workload {
  import Workload.force

  private val k = cfg.int("shingle_k")
  private val m = cfg.int("minhash_m")
  private val bands = cfg.int("bands")
  private val num = cfg.int("jaccard_num")
  private val den = cfg.int("jaccard_den")
  private val blocked = cfg.str("blocked_hosts").split(",").toSeq
  private val salt = cfg.str("split_salt")
  private val weights = cfg.str("split_weights").split(",").toSeq.map { w =>
    val Array(l, v) = w.split(":")
    l -> v.toDouble
  }
  private val merges = cfg.int("bpe_merges")
  private var docs: DataFrame = _
  private var nDocs = 0L
  private val stageRows = mutable.Map[String, Double]()

  def setup(): Unit = {
    docs = spark.read.parquet(cfg.path("documents.parquet"))
    nDocs = docs.count()
    pass(docs.filter(col("doc_id") % 50 === 0), -1, checked = false)
  }

  def unit(i: Int): Unit = pass(docs, i, checked = true)

  def facts(): Map[String, Double] = Map("input_docs" -> nDocs.toDouble) ++ stageRows

  private def pass(in: DataFrame, u: Int, checked: Boolean): Unit = {
    def chk(key: String, df: DataFrame, cols: String*): Unit =
      if (checked) rec.check(key)(Canon.ofDf(df, cols))
    val urlKept = rec.op("url_filter", u) {
      rec.module("Web.urlFilter")(Web.urlFilter(in, "url", blocked))(force)
    }
    chk("url_filter", urlKept, "doc_id")
    val quality = rec.op("quality", u) {
      rec.module("TextOps.qualityMetrics")(
        TextOps.qualityMetrics(urlKept, "doc_id", "text", "n_chars"))(force)
    }
    chk("quality", quality, "doc_id", "n_tokens", "bpe_tokens", "quality_ok")
    val dd = rec.op("dedup_exact", u) {
      val kept = urlKept.join(
        quality.filter(col("quality_ok") === 1).select("doc_id"), "doc_id")
      rec.module("TextOps.dedupExact")(TextOps.dedupExact(kept, "doc_id", "text"))(force)
    }
    chk("dedup_exact", dd, "doc_id")
    val cand = rec.op("minhash_candidates", u) {
      rec.module("Sketches.minhashCandidates")(
        Sketches.minhashCandidates(dd, "doc_id", "text", k = k, m = m, bands = bands))(force)
    }
    chk("minhash_candidates", cand, "a_id", "b_id", "n_bands")
    val verified = rec.op("jaccard_verify", u) { verify(dd, cand) }
    chk("jaccard_verify", verified, "a_id", "b_id", "n_inter", "n_union")
    val comps = rec.op("connected_components", u) {
      val cc = rec.module("Graph.connectedComponents")(
        Graph.connectedComponents(verified, "a_id", "b_id"))(identity)
      rec.module("Graph.componentSizes")(Graph.componentSizes(cc))(force)
    }
    chk("connected_components", comps, "id", "component_id", "csize")
    val lab = rec.op("assign_split", u) {
      val kept = dd.join(comps, dd("doc_id") === comps("id"), "left")
        .filter(col("component_id").isNull || col("component_id") === col("doc_id"))
        .select(dd.columns.map(c => dd(c)): _*)
      rec.module("Splits.assignSplit")(Splits.assignSplit(kept, "doc_id", salt, weights))(force)
    }
    chk("assign_split", lab, "doc_id", "split")
    val learned = rec.op("bpe_learn", u) {
      rec.module("TextOps.bpeLearnMerges")(
        TextOps.bpeLearnMerges(lab.filter(col("split") === weights.head._1), "text", merges))(identity)
    }
    if (checked) rec.check("bpe_learn")(Canon.ofRows(
      learned.zipWithIndex.map { case ((a, b), i) => Seq(i, a, b) }, Seq("i", "a", "b")))
    val fert = rec.op("fertility", u) {
      rec.module("TextOps.tokenizerFertilityBpe")(TextOps.tokenizerFertilityBpe(
        lab.withColumn("cohort", concat_ws(":", col("split"), col("lang"))),
        "cohort", "text", "n_chars", learned))(force)
    }
    chk("fertility", fert, "cohort", "n_docs", "ws_tokens", "bpe_tokens", "sum_chars",
      "fertility_milli", "chars_per_bpe_milli")
    if (checked && rec.tracing) traceFacts(dd, cand, verified, comps)
  }

  /** Exact shingle-set Jaccard for the candidate pairs (the verify stage
    * of the q_jaccard_pairs shape): only candidate docs are re-shingled,
    * intersections come from a (pair, shingle) join, and pairs at or
    * above num/den Jaccard survive. */
  private def verify(dd: DataFrame, cand: DataFrame): DataFrame = {
    val ids = cand.select(explode(array(col("a_id"), col("b_id"))).as("doc_id")).distinct()
    val sh = rec.module("Sketches.shingleRows")(
      Sketches.shingleRows(dd.join(ids, "doc_id"), "doc_id", "text", k))(force)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand.select("a_id", "b_id")
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")), Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
    val scored = cand.select("a_id", "b_id")
      .join(inter, Seq("a_id", "b_id"), "left")
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))).as("n_union"))
    force(scored.filter(col("n_inter") * den >= col("n_union") * num))
  }

  /** Counts the per-layer report needs, computed outside the timed ops. */
  private def traceFacts(dd: DataFrame, cand: DataFrame, verified: DataFrame,
      comps: DataFrame): Unit = rec.untimed {
    val sig = Sketches.minhashSignature(dd, "doc_id", "text", k, m)
    val bk = Sketches.minhashBands(sig, "doc_id", bands, m / bands)
    stageRows("max_bucket_rows") =
      bk.groupBy("band", "band_key").count().agg(max("count")).head().getLong(0).toDouble
    stageRows("candidate_pairs") = cand.count().toDouble
    stageRows("verified_pairs") = verified.count().toDouble
    stageRows("components") = comps.select("component_id").distinct().count().toDouble
  }
}

/** Index build (IVF centroids, PQ codebooks, IVF-PQ table, LSH table),
  * exact knnJoin and the two ANN joins over an uncached parquet corpus.
  * A round is the six ops in order; `step(j, round)` runs op j. */
final class VectorBatch(spark: SparkSession, cfg: Config, rec: Recorder, work: File) {
  import Workload.{force, readVectors}

  private val k = cfg.int("k")
  private val cells = cfg.int("ivf_cells")
  private val probes = cfg.int("ivf_probes")
  private val pqM = cfg.int("pq_m")
  private val pqK = cfg.int("pq_ksub")
  private val lshBits = cfg.int("lsh_bits")
  private val lshBands = cfg.int("lsh_bands")
  private val mpBits = cfg.int("mp_bits")
  private val mpFlips = cfg.int("mp_flips")
  private val dim = cfg.int("dim")
  private var corpus: DataFrame = _
  private var queries: DataFrame = _
  private var nCorpus = 0L
  private var nQueries = 0L
  private val extra = mutable.Map[String, Double]()
  private val recall = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  // state one round's ops hand to the next
  private var cents: Seq[(Long, Seq[Double])] = Nil
  private var knn: DataFrame = _
  private var ivf: DataFrame = _
  val Ops = 6

  def setup(): Unit = {
    corpus = readVectors(spark, cfg.path("corpus.parquet"))
    queries = readVectors(spark, cfg.path("queries.parquet"))
    nCorpus = corpus.count()
    nQueries = queries.count()
    val (c, q) = (corpus, queries)
    corpus = c.filter(col("vec_id") % 10 === 0)
    queries = q.filter(col("vec_id") % 10 === 0)
    (0 until Ops).foreach(j => step(j, -1, checked = false))
    corpus = c
    queries = q
  }

  def facts(): Map[String, Double] = Map(
    "corpus" -> nCorpus.toDouble, "queries" -> nQueries.toDouble,
    "input_vector_bytes" -> nCorpus.toDouble * dim * 4) ++ extra ++
    recall.map { case (n, v) => s"recall_$n" -> v.sum / v.size }

  def step(j: Int, round: Int, checked: Boolean = true): Unit = {
    val dir = new File(work, s"index_$round")
    val knnCols = Seq("query_id", "neighbor_id", "rank")
    def chk(key: String, df: DataFrame, cols: Seq[String]): Unit =
      if (checked) rec.check(key)(Canon.ofDf(df, cols))
    val (c, q) = (corpus, queries)
    j match {
      case 0 =>
        Workload.deleteTree(new File(work, s"index_${round - 1}"))
        Workload.deleteTree(dir)
        cents = rec.op("ivf_centroids", round) {
          rec.module("VectorSearch.ivfCentroids")(
            VectorSearch.ivfCentroids(c, "embedding", "vec_id", cells, Metric.Cosine))(identity)
        }
        if (checked) rec.check("ivf_centroids")(Canon.ofRows(cents.map(x => Seq(x._1)), Seq("cid")))
      case 1 =>
        val path = new File(dir, "ivfpq").getPath
        rec.op("ivfpq_index", round) {
          val books = rec.module("VectorSearch.pqCodebooks")(
            VectorSearch.pqCodebooks(c, "embedding", "vec_id", pqM, pqK))(identity)
          rec.module("VectorSearch.ivfPqIndexTable")(
            VectorSearch.ivfPqIndexTable(c, "embedding", "vec_id", cents, books))(
            t => { t.write.parquet(path); t })
        }
        chk("ivfpq_index", spark.read.parquet(path), Seq("vec_id", "centroid_id", "pq_code"))
      case 2 =>
        val path = new File(dir, "lsh").getPath
        rec.op("lsh_index", round) {
          rec.module("VectorSearch.lshBucketTable")(VectorSearch.lshBucketTable(
            c, "embedding", "vec_id", Metric.Cosine, dim, lshBits, lshBands))(
            t => { t.write.parquet(path); t })
        }
        chk("lsh_index", spark.read.parquet(path), Seq("vec_id", "band", "bucket"))
        if (checked) extra("index_stored_bytes") = Workload.dirBytes(dir).toDouble
      case 3 =>
        knn = rec.op("knn_exact", round) {
          rec.module("VectorSearch.knnJoin")(VectorSearch.knnJoin(
            q, c, "embedding", "vec_id", Metric.Cosine, k, excludeSelf = false,
            broadcastQueries = true))(force)
        }
        chk("knn_exact", knn, knnCols)
      case 4 =>
        ivf = rec.op("ann_ivf", round) {
          rec.module("VectorSearch.ivfKnnJoin")(VectorSearch.ivfKnnJoin(
            q, c, "embedding", "vec_id", Metric.Cosine, k, cells, probes,
            excludeSelf = false, centroids = Some(cents)))(force)
        }
        chk("ann_ivf", ivf, knnCols)
      case 5 =>
        val mp = rec.op("ann_multiprobe", round) {
          rec.module("VectorSearch.multiProbeKnnJoin")(VectorSearch.multiProbeKnnJoin(
            q, c, "embedding", "vec_id", Metric.Cosine, k, dim, mpBits, mpFlips,
            excludeSelf = false, dataCountHint = Some(nCorpus),
            queriesCountHint = Some(nQueries)))(force)
        }
        chk("ann_multiprobe", mp, knnCols)
        if (checked) rec.untimed {
          for ((name, ann) <- Seq("ivf" -> ivf, "multiprobe" -> mp)) {
            val hit = ann.join(knn, Seq("query_id", "neighbor_id")).count()
            recall.getOrElseUpdate(name, mutable.ArrayBuffer()) += hit.toDouble / (nQueries * k)
          }
        }
    }
  }
}

/** Batch vector analytics and serving on one corpus, one client, closed
  * loop: every op of a [[VectorBatch]] round is followed by `serving_ops`
  * ops of the [[SearchMixed]] mix. One unit is one op. */
final class VectorMixed(spark: SparkSession, cfg: Config, rec: Recorder, work: File)
    extends Workload {
  private val batch = new VectorBatch(spark, cfg, rec, work)
  private val serve = new SearchMixed(spark, cfg, rec, work)
  private val between = cfg.int("serving_ops")
  private var served = 0

  def setup(): Unit = {
    batch.setup()
    serve.setup()
  }

  private def batchOp(i: Int): Option[(Int, Int)] = {
    val round = batch.Ops * (between + 1)
    val slot = i % round
    if (slot % (between + 1) == 0) Some((slot / (between + 1), i / round)) else None
  }

  def unit(i: Int): Unit = batchOp(i) match {
    case Some((j, round)) => batch.step(j, round)
    case None =>
      serve.unit(served)
      served += 1
  }

  /** Batch ops and appends are always traced (a traced run sees about one
    * round and a handful of appends); reads alternate, and their untraced
    * half measures the overhead. */
  override def traced(i: Int): Boolean =
    batchOp(i).isDefined || serve.isAppend(served) || served % 2 == 1

  /** Every run completes at least one round of batch ops. */
  override def minUnits: Int = batch.Ops * (between + 1)

  def facts(): Map[String, Double] = batch.facts() ++ serve.facts()

  override def close(): Unit = serve.close()
}

/** Serving ops over a cached VectorTable: seeded VectorTable.search and
  * Rag.answerFromIndex reads, and writes that land a parquet batch and
  * drain it through one Trigger.AvailableNow run of
  * Streaming.embeddingsStream into Streaming.compactingIndexAppend. */
final class SearchMixed(spark: SparkSession, cfg: Config, rec: Recorder, work: File) {
  private val k = cfg.int("k")
  private val ragK = cfg.int("rag_k")
  private val chunk = cfg.int("rag_chunk")
  private val bits = cfg.int("index_bits")
  private val bands = cfg.int("index_bands")
  private val cadence = cfg.int("compact_every")
  private val dim = cfg.int("dim")
  private val batchRows = cfg.int("batch_rows")
  private val ops = lines(cfg.path("ops.txt"))
  private val ragQueries = lines(cfg.path("rag_queries.txt"))
  private val batches = new File(cfg.path("batches")).listFiles()
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  private var vt: VectorTable = _
  private var rag: VectorTable = _
  private var qvecs: IndexedSeq[Seq[Double]] = _
  private var stream: File = _
  private var landed = 0
  private val extra = mutable.Map[String, Double]()
  private var nextBatch = 0

  private def lines(p: String): IndexedSeq[String] = {
    val s = Source.fromFile(p, "UTF-8")
    try s.getLines().toIndexedSeq finally s.close()
  }

  def setup(): Unit = {
    def seconds[T](key: String)(body: => T): T = {
      val t = System.nanoTime()
      try body finally extra(key) = (System.nanoTime() - t) / 1e9
    }
    vt = seconds("vt_cache_build_s") {
      val t = VectorTable(Workload.readVectors(spark, cfg.path("corpus.parquet")),
        VectorTableConfig(dim = dim, metric = "cosine")).cached()
      extra("corpus") = t.df.count().toDouble
      t
    }
    rag = seconds("rag_build_index_s") {
      val idx = Rag.buildIndex(spark.read.parquet(cfg.path("rag_docs.parquet")),
        "doc_id", "text", chunk, dim).cached()
      extra("chunks") = idx.df.count().toDouble
      idx
    }
    qvecs = Workload.readVectors(spark, cfg.path("queries.parquet"))
      .orderBy("vec_id").select("embedding").collect().map(_.getSeq[Double](0)).toIndexedSeq
    stream = new File(work, "stream")
    Workload.deleteTree(stream)
    // warm-up: a few reads, one append into a throwaway index
    (0 until 6).foreach(search)
    (0 until 2).foreach(answer)
    val warm = new File(work, "stream_warmup")
    Workload.deleteTree(warm)
    append(warm, batches.head)
    Workload.deleteTree(warm)
    landed = 0
    nextBatch = 0
    extra("cached_mb") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
  }

  def close(): Unit = {
    if (vt != null) vt.uncached()
    if (rag != null) rag.uncached()
  }

  def facts(): Map[String, Double] = extra.toMap ++ Map(
    "appended_rows" -> (landed.toDouble * batchRows),
    "stream_stored_bytes" -> Workload.dirBytes(new File(stream, "index")).toDouble,
    "fragment_files" -> Workload.fileCount(new File(stream, "index/frag")).toDouble)

  def isAppend(i: Int): Boolean = ops(i % ops.size).head == 'a'

  def unit(i: Int): Unit = {
    val o = ops(i % ops.size)
    o.head match {
      case 's' =>
        val qi = o.tail.toInt
        val rows = rec.op("search", i)(search(qi))
        rec.check(s"search:$qi")(Canon.ofRows(
          rows.zipWithIndex.map { case (id, r) => Seq(id, r + 1) }, Seq("vec_id", "rank")))
      case 'r' =>
        val ti = o.tail.toInt
        val ctx = rec.op("rag", i)(answer(ti))
        rec.check(s"rag:$ti")(Canon.ofRows(Seq(Seq(ctx)), Seq("context")))
      case 'a' if nextBatch < batches.length =>
        val b = batches(nextBatch)
        nextBatch += 1
        rec.op("append", i)(append(stream, b))
        landed += 1
        rec.check(s"append:$landed")(rec.untimed {
          Streaming.readCompactedIndex(spark, new File(stream, "index/frag").getPath,
            new File(stream, "index/compact").getPath).count().toString
        })
      case _ =>
    }
  }

  private def search(qi: Int): Seq[Long] = {
    val q = spark.range(1).select(typedLit(qvecs(qi)).as("qvec"))
    rec.module("VectorTable.search")(vt.search(q, "qvec", k).select("vec_id"))(
      _.collect().map(_.getLong(0)).toSeq)
  }

  private def answer(ti: Int): String =
    rec.module("Rag.answerFromIndex")(
      Rag.answerFromIndex(spark, rag, "text", ragQueries(ti), ragK).select("context"))(
      _.collect().head.getString(0))

  /** Land one batch file, then drain it through one AvailableNow run. The
    * op's clock starts after the file is in the landing dir. */
  private def append(base: File, batch: File): Unit = {
    val landing = new File(base, "landing")
    landing.mkdirs()
    val tmp = new File(base, s".${batch.getName}")
    Files.copy(batch.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp.toPath, Paths.get(landing.getPath, batch.getName),
      StandardCopyOption.ATOMIC_MOVE)
    val frag = new File(base, "index/frag").getPath
    val compact = new File(base, "index/compact").getPath
    rec.span("Streaming.trigger") { trigger =>
      val q = VectorSearch.lshBucketTable(
          Streaming.embeddingsStream(spark, landing.getPath),
          "embedding", "vec_id", Metric.Cosine, dim, bits, bands)
        .select(col("vec_id"), col("band").cast("long").as("band"), col("bucket"))
        .writeStream
        .foreachBatch { (batchDf: DataFrame, id: Long) =>
          rec.span("Streaming.compactingIndexAppend", Option(trigger)) { s =>
            if (s != null) s.attrs("compaction") = if (id % cadence == cadence - 1) 1.0 else 0.0
            Streaming.compactingIndexAppend(batchDf, id, frag, compact, cadence)
          }
        }
        .option("checkpointLocation", new File(base, "ckpt").getPath)
        .trigger(Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(120000L)) {
        q.stop()
        throw new IllegalStateException("append stream did not drain")
      }
    }
  }
}
