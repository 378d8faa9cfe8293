package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's Connect-agnostic Column API (Spark 4 removed public
  * `Column.expr` / `new Column(expr)`); `ExpressionUtils` is private[sql],
  * so this shim lives in an org.apache.spark.sql subpackage — the same
  * technique third-party Spark extensions (e.g. connectors adding native
  * expressions) use.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]) — needed to hand a hand-built logical operator like
    * graft.plans.AsOfJoin to the analyzer/planner.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame (queryExecution is classic-only). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** The session's unique id (classic-only; `System.identityHashCode`
    * can repeat across two live sessions, this cannot) — the key for
    * driver caches that hold frames bound to one session. */
  def sessionId(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Drain the async listener bus (private[spark]) — deterministic
    * job-count assertions in specs instead of fixed sleeps. */
  def waitForListenerBus(sc: org.apache.spark.SparkContext,
                         timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
