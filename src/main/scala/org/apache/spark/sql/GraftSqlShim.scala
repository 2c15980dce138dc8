package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public Column API and Catalyst expressions (the
  * Column<->Expression converters are `private[sql]` since Spark 4's
  * Connect refactor, so this one-file shim lives in the sql package).
  */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A 1-row/1-column DataFrame as a scalar-subquery expression — the
    * form `might_contain` requires for a non-literal Bloom filter (the
    * subquery materializes once at the driver, like AQE's runtime
    * filters).
    */
  def scalarSubquery(df: Dataset[_]): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        df.asInstanceOf[classic.Dataset[_]].logicalPlan))
}
