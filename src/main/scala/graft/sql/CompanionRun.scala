package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.ObjectType

/** The one eval/codegen shape of graft's native expressions: interpreted
  * `eval` and generated code both call the companion object's
  * `run(children ++ constants)` through one `StaticInvoke`, so the two
  * paths cannot drift apart, and generated code is a static method call
  * that keeps the scan inside whole-stage codegen (a `ScalaUDF` node
  * would split the span). The expression stays its own plan node, so
  * optimizer rules still match it and plan strings print its
  * `prettyName`. */
trait CompanionRun extends Expression {

  /** The object whose `run` computes the value. */
  protected def companion: AnyRef

  /** `run`'s arguments after the children, in its parameter order. */
  protected def constants: Seq[Expression] = Nil

  /** True: a null child yields null without calling `run`. False: `run`
    * receives the null and maps it to its own result. */
  protected def nullInNullOut: Boolean

  @transient private lazy val call: Expression = StaticInvoke(
    companion.getClass, dataType, "run", children ++ constants,
    propagateNull = nullInNullOut, returnNullable = nullable)

  // StaticInvoke reuses one argument buffer, so interpreted projections
  // must take a fresh copy per thread
  override def stateful: Boolean = true

  override def eval(input: InternalRow): Any = call.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)
}

object CompanionRun {

  /** A constant object argument, typed as `run`'s parameter class. */
  def obj(value: AnyRef, cls: Class[_]): Literal = Literal(value, ObjectType(cls))
}
