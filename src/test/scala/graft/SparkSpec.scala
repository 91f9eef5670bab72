package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ListBuffer

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session across the forked test run), plus scratch directories under
  * `target/tmp` ([[Tables.scratchPath]]) that are deleted when their
  * test, or their suite, ends. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"

  private val testDirs = ListBuffer.empty[Path]
  private val suiteDirs = ListBuffer.empty[Path]

  private def newDir(prefix: String, owner: ListBuffer[Path]): String = {
    val root = Paths.get(Tables.scratchPath(""))
    Files.createDirectories(root)
    val d = Files.createTempDirectory(root, prefix)
    owner.synchronized(owner += d)
    d.toString
  }

  private def deleteAll(owner: ListBuffer[Path]): Unit = owner.synchronized {
    owner.foreach(d => FileUtils.deleteQuietly(d.toFile))
    owner.clear()
  }

  /** A new empty directory under `target/tmp`, deleted with everything
    * in it when the running test ends. */
  def scratchDir(prefix: String): String = newDir(prefix, testDirs)

  /** [[scratchDir]] for a fixture several tests share (a lazy val):
    * deleted when the suite ends. */
  def suiteScratchDir(prefix: String): String = newDir(prefix, suiteDirs)

  /** Run `body` with the session confs set, then restore their
    * previous values. */
  def withSQLConf[A](confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` and count the Spark jobs it starts (jobs that other
    * threads start for it, such as a broadcast, carry its job group).
    * The listener bus delivers events in order, so once a marker job's
    * start arrives every job of `body` has been counted. */
  def countJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val (measured, marker) = ("counted-jobs", "counted-jobs-marker")
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`measured`) => jobs.incrementAndGet()
          case Some(`marker`) => drained.countDown()
          case _ =>
        }
    }
    def inGroup[T](g: String)(b: => T): T = {
      sc.setJobGroup(g, g)
      try b finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val out = inGroup(measured)(body)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The `BroadcastNestedLoopJoin` and `BroadcastExchange` nodes of
    * `df`'s executed plan, adaptive stages included. */
  def broadcastNodes(df: DataFrame): Seq[SparkPlan] =
    Plans.collect(df.queryExecution.executedPlan) {
      case p: BroadcastNestedLoopJoinExec => p
      case p: BroadcastExchangeExec => p
    }

  /** Generated code only: whole-stage codegen on, no interpreted
    * projections, and a generated class that fails to compile raises
    * instead of falling back to interpreted eval. */
  val CodegenOnly: Seq[(String, String)] = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  /** Interpreted eval only: no whole-stage and no generated projections. */
  val Interpreted: Seq[(String, String)] = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally deleteAll(testDirs)

  override def afterAll(): Unit =
    try deleteAll(suiteDirs) finally super.afterAll()
}
