package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

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
  * behind the seal.
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
}
