package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` surface: wrap a custom Catalyst
  * `Expression` as a user-facing `Column` (and back). Spark 4 moved the
  * `Column`-to-`Expression` conversion behind
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is package-private;
  * this is the supported-by-convention escape hatch for libraries shipping
  * native expressions.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Collision-free cache key for a session. `identityHashCode` is NOT
    * unique across a JVM's lifetime — a stopped session's hash can be
    * reused by a new one, making a memo serve DataFrames bound to a dead
    * session. The classic session's UUID is unique; the identity-hash
    * fallback only applies to non-classic (connect) sessions, which this
    * library's memos never see.
    */
  def sessionKey(s: SparkSession): String = s match {
    case c: classic.SparkSession => c.sessionUUID
    case other => "idhash-" + System.identityHashCode(other)
  }

  /** Drain the shared listener bus — `QueryExecutionListener` callbacks
    * are delivered asynchronously, so a spec that captures an EXECUTED
    * plan (e.g. of a `DataFrameWriter.save`) must drain before asserting.
    * `listenerBus` is `private[spark]`; this package is inside that scope.
    */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A DataFrame over an already-analyzed `plan` — `Dataset.ofRows` is
    * `private[sql]`. Analysis of a resolved leaf is a no-op, so this is
    * how a memoized relation becomes a new DataFrame without re-reading
    * its source's metadata.
    */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** Register an expression builder so the function is usable from SQL. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")
}
