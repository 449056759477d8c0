package graft.text

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.CompanionRun

/** Native projection of a token-struct array to its token strings —
  * the `transform(tokenize(...), t => t.getField("token"))` pattern that
  * fronts every token-stream operator (collocations, LM adjacency, span
  * dedup, decontamination, repetition, corpus profile). `ArrayTransform`
  * is CodegenFallback, so each document row paid an interpreted
  * lambda-binding pass between two codegen'd expressions; this keeps the
  * scan fused. Value parity with the HOF: element-for-element equal,
  * null in → null out. */
case class TokenStringsExpr(child: Expression) extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.fieldNames.contains("token") &&
        s(s.fieldIndex("token")).dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<struct<token: string, ...>>, got ${other.catalogString}")
  }

  private lazy val tokenIdx: Int = child.dataType match {
    case ArrayType(s: StructType, _) => s.fieldIndex("token")
    case _ => 0
  }

  private lazy val numFields: Int = child.dataType match {
    case ArrayType(s: StructType, _) => s.length
    case _ => 3
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "token_strings"

  override protected def companion: AnyRef = TokenStringsExpr
  override protected def constants: Seq[Expression] = Seq(Literal(tokenIdx), Literal(numFields))
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): TokenStringsExpr =
    copy(child = newChild)
}

object TokenStringsExpr {
  /** Shared by interpreted `eval` and generated code. */
  def run(v: ArrayData, tokenIdx: Int, numFields: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = v.getStruct(i, numFields).getUTF8String(tokenIdx)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native adjacent-pair construction over a token-string array: for each
  * offset `d = 1..window`, the pairs `(toks(i), toks(i+d))` in position
  * order, offsets concatenated — exactly the
  * `flatten(transform(sequence(1, w), d => zip_with(slice, slice, struct)))`
  * Column program ([[Collocations]]) it replaces, which ran
  * CodegenFallback-interpreted per document row. `maxTokens` caps the
  * tokens considered (the cooccurrence explicit-cap contract); null or
  * too-short inputs yield the empty array, as the `when/otherwise`
  * guards did. */
case class AdjacentPairsExpr(child: Expression, window: Int, maxTokens: Int)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if window >= 1 && maxTokens >= 2 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires window >= 1 and maxTokens >= 2")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = true),
      StructField("w2", StringType, nullable = true))),
    containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "adjacent_pairs"

  override protected def companion: AnyRef = AdjacentPairsExpr
  override protected def constants: Seq[Expression] = Seq(Literal(window), Literal(maxTokens))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): AdjacentPairsExpr =
    copy(child = newChild)
}

/** Native `size(filter(arr, x => x === term))` for a CONSTANT term —
  * the per-term tf counter in [[graft.similarity.Bm25]]. `ArrayFilter`
  * is CodegenFallback, so each corpus document paid one interpreted
  * lambda pass PER QUERY TERM; this counts matches in one fused loop
  * per term inside whole-stage codegen. Value parity: null elements
  * never equal the term (the HOF predicate's null → false), null array
  * → null (size(null) is -1 under legacy conf, null under default —
  * tokenize output is non-null, so the branch is unreachable here). */
case class ArrayCountEqExpr(child: Expression, term: String)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "array_count_eq"

  override protected def companion: AnyRef = ArrayCountEqExpr
  override protected def constants: Seq[Expression] =
    Seq(CompanionRun.obj(UTF8String.fromString(term), classOf[UTF8String]))
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): ArrayCountEqExpr =
    copy(child = newChild)
}

object ArrayCountEqExpr {
  /** Shared by interpreted `eval` and generated code. */
  def run(v: ArrayData, term: UTF8String): Int = {
    val n = v.numElements()
    var count = 0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i) && term.equals(v.getUTF8String(i))) count += 1
      i += 1
    }
    count
  }
}

object AdjacentPairsExpr {
  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Shared by interpreted `eval` and generated code. */
  def run(v: ArrayData, window: Int, maxTokens: Int): ArrayData = {
    if (v == null) return Empty
    val n = math.min(v.numElements(), maxTokens)
    if (n < 2) return Empty
    var total = 0
    var d = 1
    while (d <= window) { if (n > d) total += n - d; d += 1 }
    if (total == 0) return Empty
    val out = new Array[Any](total)
    var k = 0
    d = 1
    while (d <= window) {
      var i = 0
      while (i + d < n) {
        out(k) = new GenericInternalRow(
          Array[Any](v.getUTF8String(i), v.getUTF8String(i + d)))
        k += 1
        i += 1
      }
      d += 1
    }
    new GenericArrayData(out)
  }
}
