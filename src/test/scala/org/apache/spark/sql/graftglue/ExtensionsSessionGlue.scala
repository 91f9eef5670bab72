package org.apache.spark.sql.graftglue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** A new session on the running SparkContext, built as a session started
  * with `--conf spark.sql.extensions=<classNames>` is: Spark reads the
  * extension class names from the context's conf (`SparkContext.conf`,
  * `private[spark]`), not from the builder, when it builds a session. The
  * conf key and the active and default sessions are restored afterwards;
  * the new session is left open, since stopping it would stop the shared
  * context. */
object ExtensionsSessionGlue {
  def withExtensionsSession[A](spark: SparkSession, classNames: String)(
      f: SparkSession => A): A = {
    val conf = spark.sparkContext.conf
    val key = StaticSQLConf.SPARK_SESSION_EXTENSIONS.key
    val prior = conf.getOption(key)
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    conf.set(key, classNames)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder().getOrCreate())
    finally {
      prior.fold(conf.remove(key))(conf.set(key, _))
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }
}
