package graft.text

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.CompanionRun

/** `size(tokenize(text))` without the array: counts the plain-words
  * tokens directly from the tokenizer output length, skipping the
  * per-token `GenericInternalRow` + `UTF8String` materialization that
  * [[TokenizeExpr]] pays to build the struct array nobody reads when
  * only the count is wanted. Installed by the
  * [[graft.sql.TokenCountRewrite]] optimizer rule; shares
  * [[PlainTokenizer]] verbatim, so counts can never drift from the
  * materializing path (spec-pinned). Null/`size` semantics follow
  * TokenizeExpr's null contract: null input → 0 tokens, never -1. */
case class TokenCountExpr(child: Expression, lowercase: Boolean, removePunct: Boolean)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = false

  override def prettyName: String = "token_count"

  override protected def companion: AnyRef = TokenCountExpr
  override protected def constants: Seq[Expression] = Seq(Literal(lowercase), Literal(removePunct))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): TokenCountExpr =
    copy(child = newChild)
}

object TokenCountExpr {
  /** Shared by interpreted eval and generated code. */
  def run(s: UTF8String, lowercase: Boolean, removePunct: Boolean): Int = {
    if (s == null) return 0
    PlainTokenizer.tokenize(s.toString, lowercase, removePunct).length
  }
}
