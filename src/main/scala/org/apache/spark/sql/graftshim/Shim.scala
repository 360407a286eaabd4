package org.apache.spark.sql
package graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's package-private Column <-> Expression
  * converters (org.apache.spark.sql.classic.ExpressionUtils is
  * private[sql] in Spark 4.x) and listener bus (private[spark]). This
  * is the only file outside the graft namespace; it contains no logic.
  */
object Shim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Blocks until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
