package graft.text

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.CompanionRun

/** Native Catalyst expression for the document-fingerprint rolling hash:
  * `h = (h·31 + codepoint) mod 1e9+7` over the Unicode code points of the
  * input; null/empty → 0.
  *
  * Promoted from `aggregate(transform(split(...)))` Column algebra for two
  * reasons: (a) correctness off-ASCII — Spark's `ascii()` returns the first
  * UTF-8 *byte* of a multibyte character, so the old formulation silently
  * diverged from the documented code-point contract (and from DuckDB's
  * `unicode()`) on non-ASCII corpora; (b) performance — one code-point walk
  * per row instead of materializing a per-character array. Stays inside
  * whole-stage codegen as a static call ([[graft.sql.CompanionRun]]), mirroring
  * [[TokenizeExpr]].
  */
case class CodePointHashExpr(child: Expression) extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def prettyName: String = "codepoint_rolling_hash"

  override protected def companion: AnyRef = CodePointHashExpr
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): CodePointHashExpr =
    copy(child = newChild)
}

object CodePointHashExpr {

  val Mod: Long = 1000000007L

  /** Shared by interpreted `eval` and generated code. One forward walk over
    * the UTF-16 units, advancing by `charCount` so surrogate pairs hash as
    * a single code point. */
  def run(s: UTF8String): Long = {
    if (s == null) return 0L
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}
