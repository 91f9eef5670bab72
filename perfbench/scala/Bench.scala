package perfbench

import java.io.{File, FileInputStream, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Probe

/** Run settings, read from the properties file run.py writes. */
final class Config(p: Properties) {
  def str(k: String): String =
    Option(p.getProperty(k)).getOrElse(throw new IllegalArgumentException(s"missing setting $k"))
  def int(k: String): Int = str(k).toInt
  def dbl(k: String): Double = str(k).toDouble
  def path(name: String): String = new File(str("input_dir"), name).getPath
}

object Config {
  def load(file: String): Config = {
    val p = new Properties()
    val in = new InputStreamReader(new FileInputStream(file), StandardCharsets.UTF_8)
    try p.load(in) finally in.close()
    new Config(p)
  }
}

/** One timed operation: its wall time and the hash of its output. */
final class OpRec(val id: Int, val name: String, val unit: Int, val traced: Boolean) {
  var ms = 0.0
  var key = ""
  var observed = ""
  var error = ""
}

/** A traced interval. `w0`/`w1` are epoch millis, comparable with Spark's
  * listener event times; `ns0`/`ns1` give the precise duration. */
final class Span(val id: Int, val parent: Int, val name: String, val op: Int,
    val ns0: Long, val w0: Long) {
  var ns1 = 0L
  var w1 = 0L
  val attrs = mutable.LinkedHashMap[String, Double]()
}

/** Op timing, span recording and output checks for one benchmark run.
  *
  * Every op is timed. Spans and Spark's listener numbers are recorded only
  * in traced units; untraced units of a traced run measure the overhead. */
final class Recorder(val spark: SparkSession) {
  val ops = mutable.ArrayBuffer[OpRec]()
  // op ids keep counting when `ops` is cleared, so listener events of
  // set-up and warm-up jobs can never be attributed to a measured op
  private var nextOpId = 0
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  @volatile var tracing = false
  val t0Ns: Long = System.nanoTime()

  def current: Option[Span] = stack.get.headOption

  /** Record `body` as a span (when tracing) under `parent`. */
  def span[T](name: String, parent: Option[Span] = current)(body: Span => T): T =
    if (!tracing) body(null)
    else enter(open(name, parent, parent.map(_.op).getOrElse(-1)), body)

  private def open(name: String, parent: Option[Span], opId: Int): Span =
    spans.synchronized {
      val sp = new Span(spans.size, parent.map(_.id).getOrElse(-1), name, opId,
        System.nanoTime(), System.currentTimeMillis())
      spans += sp
      sp
    }

  private def enter[T](s: Span, body: Span => T): T = {
    stack.set(s :: stack.get)
    try body(s)
    finally {
      s.ns1 = System.nanoTime()
      s.w1 = System.currentTimeMillis()
      stack.set(stack.get.tail)
    }
  }

  /** A module call whose output is forced inside the span: call time and
    * forced-output time are kept apart as span attributes. */
  def module[T, R](name: String)(call: => T)(forceIt: T => R): R =
    span(name) { s =>
      val a = System.nanoTime()
      val v = call
      val b = System.nanoTime()
      val out = forceIt(v)
      if (s != null) {
        s.attrs("call_ms") = (b - a) / 1e6
        s.attrs("force_ms") = (System.nanoTime() - b) / 1e6
      }
      out
    }

  /** Run one timed op. Jobs it starts carry its id; a throw is recorded
    * on the op and rethrown (the caller skips the unit's remaining ops). */
  def op[T](name: String, unit: Int)(body: => T): T = {
    val rec = new OpRec(nextOpId, name, unit, tracing)
    nextOpId += 1
    ops += rec
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, rec.id.toString)
    val t = System.nanoTime()
    try {
      if (tracing) enter(open(s"op.$name", current, rec.id), (_: Span) => body)
      else body
    } catch {
      case e: Throwable =>
        rec.error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        throw e
    } finally {
      rec.ms = (System.nanoTime() - t) / 1e6
      sc.setLocalProperty(Probe.OpKey, null)
    }
  }

  /** Untimed work (output checks): its jobs are tagged as no op. */
  def untimed[T](body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Probe.OpKey)
    sc.setLocalProperty(Probe.OpKey, "-1")
    try body finally sc.setLocalProperty(Probe.OpKey, prev)
  }

  /** Record the hash of an op's output on its record. */
  def check(key: String)(observed: => String): Unit = {
    val rec = ops.last
    rec.key = key
    try rec.observed = untimed(observed)
    catch {
      case e: Throwable =>
        rec.error = s"check: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
  }
}

/** The order-independent output hash shared with perfbench/oracle.py. */
object Canon {
  private val Sep = "\u001f"

  private def rowString(cols: Seq[String]) =
    concat_ws(Sep, cols.sorted.map(c => coalesce(col(c).cast("string"), lit("\\N"))): _*)

  def ofDf(df: DataFrame, cols: Seq[String]): String = {
    val h = md5(rowString(cols))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)),
        sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long")),
        sum(conv(substring(col("h"), 9, 8), 16, 10).cast("long")))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${l(0)}:${l(1)}:${l(2)}"
  }

  def ofRows(rows: Seq[Seq[Any]], cols: Seq[String]): String = {
    val order = cols.indices.sortBy(cols(_))
    var h1, h2 = 0L
    for (r <- rows) {
      val s = order.map(i => Option(r(i)).map(_.toString).getOrElse("\\N")).mkString(Sep)
      val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      def word(off: Int) =
        (0 until 4).foldLeft(0L)((acc, j) => (acc << 8) | (d(off + j) & 0xffL))
      h1 += word(0)
      h2 += word(4)
    }
    s"${rows.size}:$h1:$h2"
  }
}

/** Minimal JSON writer for the run result. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")

  def nums(m: Iterable[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })

  def write(path: String, text: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.write(text) finally w.close()
  }
}
