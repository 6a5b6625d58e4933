package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression,
  Generator}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter,
  Dataset, ExpressionUtils}

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

  /** `df` joined laterally with `generator`: each row once per row the
    * generator yields for it (none for a null or empty input), its
    * output columns qualified by `qualifier` like [[qualifiedAs]]. */
  def generate(df: DataFrame, generator: Generator,
      qualifier: String): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    // the Column-built children of `generator` convert as a select's do
    val gen = ColumnNodeToExpressionConverter(column(generator).node)
      .asInstanceOf[Generator]
    Dataset.ofRows(ds.sparkSession, Generate(gen, Nil, outer = false,
      Some(qualifier), DataTypeUtils.toAttributes(gen.elementSchema),
      ds.logicalPlan))
  }
}
