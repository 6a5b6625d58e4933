package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` API: Column ⇄ Expression conversion
  * for registering custom Catalyst expressions. Lives under
  * `org.apache.spark.sql` (the standard pattern for Spark extension
  * libraries) so it can see the package-private converters; everything
  * else in this repo stays in the `graft` namespace. */
object Bridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** `c AS name` whose output attribute carries the table qualifier
    * `qualifier`, so `qualifier.name` resolves against the projection
    * as if the column came from a frame aliased `qualifier`. */
  def qualifiedAs(c: Column, qualifier: String, name: String): Column =
    column(Alias(expression(c), name)(qualifier = Seq(qualifier)))
}
