package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the sql-package-private Catalyst hooks the engine's
  * custom expressions need: the Column ↔ Expression converters (to
  * expose an [[Expression]] through the public Column API), the
  * `AbstractDataType` name that `ExpectsInputTypes` signatures require,
  * the session's function registry (to make one callable from
  * `spark.sql(...)`), and the listener bus's drain (to read a listener's
  * records once the events of finished jobs have reached it). This is
  * the conventional shim of Spark-native extension libraries: the hooks
  * are `private[sql]` or `private[spark]`, so the bridge lives inside
  * the org.apache.spark.sql package. No behavior here — aliases only.
  */
object GraftShims {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register `builder` under `name` in `spark`'s own function registry.
    * An existing entry of that name is replaced, so registering again is
    * a no-op. [[graft.GraftExtensions.install]] is the one caller. */
  def registerFunction(spark: SparkSession, name: String, info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name), info, builder)

  /** Block until every event posted so far to `sc`'s listener bus has
    * been delivered (at most a minute), so a listener has seen every job
    * and stage that ended before the call. */
  def awaitListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
