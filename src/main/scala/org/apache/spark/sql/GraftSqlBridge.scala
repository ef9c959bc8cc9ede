package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so a
  * library that injects its own Catalyst expressions needs this one-file
  * shim in the `org.apache.spark.sql` package — same approach public Spark
  * extension libraries use post-Connect-unification.
  */
object GraftSqlBridge {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Eager Column→Expression conversion. `toExpr` wraps the column's node
    * in a LAZY `ColumnNodeExpression`, which the analyzer only unwraps on
    * normal Dataset paths — inside a `FunctionRegistry` builder it would
    * survive to codegen unresolved and fail. This converts the node tree
    * up front (function invocations become real `UnresolvedFunction`s the
    * analyzer resolves in place), so registered SQL functions can be built
    * from `functions._`-composed Columns.
    */
  def toExprEager(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame from a logical plan (`Dataset.ofRows` went `private[sql]`
    * in Spark 4) — needed to hand custom logical operators to Catalyst.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame over already-encoded Catalyst rows (`internalCreateDataFrame`
    * is `private[sql]`). The plan is a bare RDD scan: no object serializer
    * is analysed, optimized or code-generated for it, whatever the width
    * of `schema`.
    */
  def internalCreateDataFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
