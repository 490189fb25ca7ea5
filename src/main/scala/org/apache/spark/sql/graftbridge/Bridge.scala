package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Catalyst ⇄ public-API bridge. Spark 4 hides Column(Expression) behind
  * `private[sql] classic.ExpressionUtils`; the engine's native functions
  * (the kernel calls and shells in `graft.functions`) need this one hop
  * into the sql package namespace. Standard extension-library technique — no Spark internals are
  * modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a builder under a SQL function name in this session. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Wait until every queued listener event has been delivered, so that
    * counts a listener keeps include all jobs of an action that returned
    * (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
