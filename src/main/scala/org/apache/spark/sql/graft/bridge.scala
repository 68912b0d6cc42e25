package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 wraps columns in `ColumnNode`s and keeps the converters
  * `private[sql]`; this shim (in an org.apache.spark.sql subpackage, the
  * standard extension-library technique) exposes the conversions graft
  * needs to register codegen'd expressions without a
  * SparkSessionExtensions round-trip, and the nullable schema a
  * file-source relation carries.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → catalyst conversion (attrs stay unresolved), using
    * the same ColumnNode converter the analyzer itself runs — without
    * building or analyzing a plan. `expression` above returns a LAZY
    * ColumnNodeExpression wrapper, which pattern-matching callers (stats
    * pruning, the DML micro-resolver) cannot see through.
    */
  def unresolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `schema` with every field, element and value nullable — the schema
    * a file-source read exposes whatever schema it was given.
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable
}
