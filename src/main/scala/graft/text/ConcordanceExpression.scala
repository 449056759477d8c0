package graft.text

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.CompanionRun

/** Native Catalyst expression for the concordance (KWIC) operator: text →
  * `array<struct<left_context, matched_text, right_context, start_idx,
  * end_idx, l1, r1>>` — the same 7-field struct the reference explodes.
  *
  * Replaces the `udf(concordance)` wrapper: the KWIC scan re-tokenizes
  * both context sides per match, so it is one of the heavier elementwise
  * operators, and the UDF paid the case-class encoder round-trip per
  * row. The pattern compiles once per (deserialized) expression — never
  * per row — exactly like the UDF-closure version. */
case class ConcordanceExpr(
    child: Expression,
    searchWord: String,
    numLeftTokens: Int,
    numRightTokens: Int,
    regex: Boolean,
    caseSensitive: Boolean)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = ConcordanceExpr.OutputType

  override def nullable: Boolean = false

  override def prettyName: String = "concordance"

  override protected def companion: AnyRef = ConcordanceExpr
  override protected def constants: Seq[Expression] = Seq(
    CompanionRun.obj(
      if (searchWord == null || searchWord.isEmpty) null
      else Concordance.compilePattern(searchWord, regex, caseSensitive),
      classOf[Pattern]),
    Literal(numLeftTokens), Literal(numRightTokens))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): ConcordanceExpr =
    copy(child = newChild)
}

object ConcordanceExpr {

  /** The reference's 7-field struct, in its field order. */
  val OutputType: DataType = ArrayType(
    StructType(Seq(
      StructField("left_context", StringType, nullable = false),
      StructField("matched_text", StringType, nullable = false),
      StructField("right_context", StringType, nullable = false),
      StructField("start_idx", LongType, nullable = false),
      StructField("end_idx", LongType, nullable = false),
      StructField("l1", StringType, nullable = false),
      StructField("r1", StringType, nullable = false))),
    containsNull = false)

  /** Shared by interpreted `eval` and generated code. Null text or an
    * empty/missing pattern → no matches (the UDF-era contract). */
  def run(s: UTF8String, compiled: Pattern, numLeft: Int, numRight: Int): ArrayData = {
    if (s == null || compiled == null)
      return new GenericArrayData(Array.empty[Any])
    val matches = Concordance.concordance(s.toString, compiled, numLeft, numRight)
    val rows = new Array[Any](matches.length)
    var i = 0
    while (i < matches.length) {
      val m = matches(i)
      rows(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(m.left_context),
        UTF8String.fromString(m.matched_text),
        UTF8String.fromString(m.right_context),
        m.start_idx,
        m.end_idx,
        UTF8String.fromString(m.l1),
        UTF8String.fromString(m.r1)))
      i += 1
    }
    new GenericArrayData(rows)
  }
}
