package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Probe

import graft.expressions.VectorExpressions

/** Benchmark JVM: `Main <settings.properties>`.
  *
  * Sets the workload up `setups` times (a fresh session each time; the
  * median is `setup_s`), then runs units in a closed loop for `seconds`
  * and writes every op's time and output hash to `result`. A traced run
  * records spans and Spark listener numbers on alternate units, so the
  * untraced units in between measure the tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Config.load(args(0))
    val name = cfg.str("workload")
    val trace = cfg.int("trace") == 1
    val work = new File(cfg.str("work_dir"))
    var spark: SparkSession = null
    var rec: Recorder = null
    var wl: Workload = null
    val setupS = mutable.ArrayBuffer[Double]()
    for (_ <- 0 until cfg.int("setups")) {
      if (spark != null) {
        wl.close()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t = System.nanoTime()
      spark = session(cfg, work)
      rec = new Recorder(spark)
      wl = Workload(name, spark, cfg, rec, work)
      wl.setup()
      setupS += (System.nanoTime() - t) / 1e9
    }
    rec.ops.clear()
    val probe = if (trace) Some(new Probe) else None
    probe.foreach(spark.sparkContext.addSparkListener)

    val seconds = cfg.dbl("seconds")
    // A traced run compares traced with untraced units, so it first runs
    // one unrecorded unit: neither side then pays the first full-size pass.
    val first = if (trace) 1 else 0
    if (trace) {
      runUnit(wl, 0)
      rec.ops.clear()
    }
    val t0 = System.nanoTime()
    var i = first
    val minUnits = wl.minUnits.max(if (trace) 2 else 1)
    while (i < first + minUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
      rec.tracing = trace && wl.traced(i)
      runUnit(wl, i)
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    rec.tracing = false
    val kernel = if (trace) kernels(spark, cfg.int("seed"), rec) else Map.empty[String, Double]
    val facts = wl.facts() ++ Map("loop_s" -> loopS, "units" -> (i - first).toDouble,
      "retained_heap_mb" -> retainedHeapMb())
    probe.foreach(_ => Probe.drain(spark.sparkContext))
    Json.write(cfg.str("result"), result(setupS.toSeq, rec, facts, kernel, probe))
    spark.stop()
  }

  /** A unit that throws has its failing op recorded; the rest is skipped. */
  def runUnit(wl: Workload, i: Int): Unit =
    try wl.unit(i)
    catch { case e: Throwable => System.err.println(s"[perfbench] unit $i failed: $e") }

  def session(cfg: Config, work: File): SparkSession = {
    def dir(n: String) = new File(work, n).getAbsolutePath
    val cores = cfg.int("cores")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.hadoop.hadoop.tmp.dir", dir("hadoop-tmp"))
      .config("spark.sql.streaming.checkpointLocation", dir("checkpoints"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Driver heap still in use after forced collections: what caches and
    * leaks keep alive, not what a run happened to allocate last. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) {
      System.gc()
      Thread.sleep(200)
    }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Kernel rows per second: a fixed seeded cross product pushed through
    * one vector kernel into a sum. The inputs are materialized first, so
    * only the kernel and its scan are timed; median of three. */
  def kernels(spark: SparkSession, seed: Int, rec: Recorder): Map[String, Double] = rec.untimed {
    def vecs(n: Int, name: String, salt: Int): DataFrame = Workload.force(
      spark.range(n).select(array((0 until 64).map(j => randn(seed * 1000L + salt * 100 + j)): _*)
        .as(name)).repartition(4))
    val a = vecs(256, "a", 1)
    val b = vecs(4096, "b", 2)
    val rows = 256.0 * 4096
    val pairs = b.crossJoin(broadcast(a))
    def rate(expr: org.apache.spark.sql.Column): Double = {
      val ts = (0 until 3).map { _ =>
        val t = System.nanoTime()
        pairs.agg(sum(expr)).head()
        (System.nanoTime() - t) / 1e9
      }
      rows / ts.sorted.apply(1)
    }
    Map(
      "cosine_rows_per_s" -> rate(VectorExpressions.cosine(col("a"), col("b"))),
      "dot_rows_per_s" -> rate(VectorExpressions.dot(col("a"), col("b"))),
      "l2norm_rows_per_s" -> rate(element_at(VectorExpressions.l2Normalize(col("b")), 1)))
  }

  def result(setupS: Seq[Double], rec: Recorder, facts: Map[String, Double],
      kernel: Map[String, Double], probe: Option[Probe]): String = {
    val opSpan = rec.spans.filter(_.name.startsWith("op.")).map(s => s.op -> s).toMap
    val ops = rec.ops.map { o =>
      val stats = for (p <- probe; s <- opSpan.get(o.id)) yield p.opStats(o.id, s.w0, s.w1)
      Json.obj(Seq(
        "id" -> o.id.toString, "name" -> Json.str(o.name), "unit" -> o.unit.toString,
        "ms" -> Json.num(o.ms), "traced" -> o.traced.toString, "key" -> Json.str(o.key),
        "observed" -> Json.str(o.observed), "error" -> Json.str(o.error)) ++
        stats.map(st => "stats" -> Json.nums(st)))
    }
    val spans = rec.spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "start_ms" -> Json.num((s.ns0 - rec.t0Ns) / 1e6),
        "ms" -> Json.num((s.ns1 - s.ns0) / 1e6), "attrs" -> Json.nums(s.attrs)))
    }
    Json.obj(Seq(
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "facts" -> Json.nums(facts),
      "kernel" -> Json.nums(kernel),
      "ops" -> Json.arr(ops),
      "spans" -> Json.arr(spans)))
  }
}
