package graft.text

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.CompanionRun

/** Native Catalyst expression for `native:plain_words_en` tokenization —
  * the engine's hottest operator (it feeds token_frequencies, keyness,
  * c-TF-IDF, dedup, and the chunk sizer), promoted from a Scala UDF to a
  * first-class `Expression` (SURVEY §7.3's "custom Expression if bench
  * demands" escape hatch):
  *
  *   - no UDF encoder round-trip: the tokenizer writes `UTF8String` /
  *     `InternalRow` directly instead of paying Row↔InternalRow
  *     conversion per row,
  *   - [[CompanionRun]] makes it a static call, so the expression stays
  *     inside whole-stage codegen instead of splitting the span the way a
  *     `ScalaUDF` node does,
  *   - the reference null contract (`tokenize(null) → []`,
  *     `src/expressions.rs:834-838`) is encoded as `nullable = false` with
  *     an empty-array result, which also lets Catalyst drop IsNotNull
  *     guards downstream.
  */
case class TokenizeExpr(child: Expression, lowercase: Boolean, removePunct: Boolean)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = TokenizeExpr.OutputType

  override def nullable: Boolean = false

  override def prettyName: String = "tokenize_plain_words"

  override protected def companion: AnyRef = TokenizeExpr
  override protected def constants: Seq[Expression] = Seq(Literal(lowercase), Literal(removePunct))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): TokenizeExpr =
    copy(child = newChild)
}

object TokenizeExpr {

  val OutputType: DataType = ArrayType(
    StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("start", LongType, nullable = false),
      StructField("end", LongType, nullable = false))),
    containsNull = false)

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Shared by interpreted `eval` and generated code. */
  def run(s: UTF8String, lowercase: Boolean, removePunct: Boolean): ArrayData = {
    if (s == null) return Empty
    val toks = PlainTokenizer.tokenize(s.toString, lowercase, removePunct)
    if (toks.isEmpty) return Empty
    val rows = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      rows(i) = new GenericInternalRow(
        Array[Any](UTF8String.fromString(t.token), t.start, t.end))
      i += 1
    }
    new GenericArrayData(rows)
  }
}
