package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The binding contract of a native function of one string column — the
  * one-walk expressions [[TextStats]], [[ClassifierStats]],
  * [[MinhashSigs]], [[Simhash16]], [[Simhash60]], [[CdcChunks]],
  * [[AgmsSigns]], [[TokenizeCjk]] and [[RollingFps]]. A walk states its
  * SQL name, its result type and its interpreted hook [[walk]]; this
  * class owns the rest: the string type check, null-intolerance, constant
  * folding of a literal argument, and generated code.
  *
  * Generated code is one static call per row,
  * `graft.plans.<Class>.compute(<child>[, <codegenArgs>])` — the JIT
  * inlines it; the win is the fused single walk, not the inlining of the
  * loop body into generated source. The companion of each walk therefore
  * defines `compute`, and Scala emits the static forwarder on the class
  * that the generated source calls only when the class itself has no
  * member of that name. Pitfall: no member of this class or of a walk
  * may be named `compute` (hence [[walk]]), or the generated call stops
  * compiling.
  *
  * `Serializable` because Catalyst's base classes are not: Java
  * serialization rebuilds them through their no-arg constructors, so
  * without it a task would lose, or fail to rebuild, this class's fields.
  */
abstract class StringWalk(name: String, resultType: DataType)
    extends UnaryExpression with Serializable {

  /** Interpreted evaluation of a non-null input. */
  protected def walk(s: UTF8String): Any

  /** Literal arguments after the string in the generated `compute` call. */
  protected def codegenArgs: Seq[Any] = Nil

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$name requires a string argument, got ${dt.simpleString}")
  }

  override def dataType: DataType = resultType
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = child.foldable
  override def prettyName: String = name

  override def nullSafeEval(input: Any): Any =
    walk(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${getClass.getName}.compute(" +
        s"${(c +: codegenArgs).mkString(", ")});")
}
