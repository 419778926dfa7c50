package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made `new Column(expr)` private to
  * the sql package; libraries that define native Catalyst expressions reach
  * the constructor through a shim in `org.apache.spark.sql` — the same
  * pattern used by public Spark-extension projects. The same access
  * re-binds a plan to another session of its context, and reaches the
  * thread-local job properties a worker thread must carry. This is the
  * only file outside the `graft` namespace. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A new session of `spark`'s context — shared state and extensions,
    * its own SQL conf — with `settings` applied before first use. An
    * action run on it plans under those settings while `spark`'s own
    * conf is never read back or written. */
  def isolatedSession(spark: SparkSession, settings: Map[String, String]): SparkSession = {
    val s = spark.newSession()
    settings.foreach { case (k, v) => s.sessionState.conf.setConfString(k, v) }
    s
  }

  /** A copy of the calling thread's Spark local properties: job group,
    * description, scheduler pool and every other tag its jobs carry. */
  def localProperties(spark: SparkSession): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(spark.sparkContext.getLocalProperties)

  /** Run `body` on this thread with (a copy of) `props` as its Spark
    * local properties, then restore the thread's own. */
  def withLocalProperties[T](spark: SparkSession, props: java.util.Properties)(body: => T): T = {
    val sc = spark.sparkContext
    val own = sc.getLocalProperties
    sc.setLocalProperties(org.apache.spark.util.Utils.cloneProperties(props))
    try body finally sc.setLocalProperties(own)
  }

  /** `df`'s analyzed plan as a DataFrame of `spark`, another session of
    * the same context: it then plans and executes under that session. */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
