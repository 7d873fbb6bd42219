package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.errors.QueryCompilationErrors

/** Column <-> Expression bridge.
  *
  * Spark 4 made the conversion `private[sql]` (Column is backed by a
  * ColumnNode shared with Connect). Registering a FunctionRegistry builder
  * for an expression COMPOSED with the public Column API (e.g. exposing
  * `graft.functions.Text.fingerprint` as the SQL function
  * `doc_fingerprint`) needs exactly this conversion — the alternative is
  * duplicating every function body as a parsed SQL template, which can
  * silently diverge from the Column form. A same-package shim is the
  * established extension pattern for this (Delta Lake and Frameless ship
  * the same bridge); it touches only the two conversions, nothing else
  * behind the seal, plus the built-in arity error ([[wrongNumArgs]]).
  *
  * `expression` converts the whole node tree. Spark's own
  * `ExpressionUtils.expression` wraps a composed Column in a placeholder
  * that only `Dataset` conversion replaces, so an expression returned to
  * the SQL analyzer through a registry builder kept it and failed in
  * codegen (`doc_fingerprint`, `jaccard_sim`; SqlApiSpec pins both).
  */
object ColumnBridge {
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The `AnalysisException` a built-in function raises when called with
    * `actual` arguments instead of `expected` (`WRONG_NUM_ARGS`), for the
    * registry builders that the same seal keeps from raising it. */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, Seq(expected), actual)
}
