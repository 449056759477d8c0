package graft.similarity

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.sql.CompanionRun

/** Native Catalyst expression for float-array cosine similarity.
  *
  * Value-identical to the [[Similarity.cosine]] Column formulation
  * (`float→double` casts are exact, dot and both norms fold
  * left-to-right in double, `dot / (√na2 · √nb2)`, null on length
  * mismatch / empty / zero norm) — but the Column version is built from
  * higher-order array functions (`transform`/`zip_with`/`aggregate`),
  * which are CodegenFallback: every row detours through interpreted
  * eval with boxed lambdas. Fine for a few thousand brute-force rows;
  * a scan bottleneck for the millions of within-cell pairs SemDeDup
  * scores (measured 17 s → ~1 s for `q_semdedup` at sf0.1). This
  * expression does the one fused loop inside whole-stage codegen, the
  * [[NearestCellsExpr]] pattern applied to a binary input. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<float>, array<float>), got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "cosine_sim"

  override protected def companion: AnyRef = CosineSimExpr
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** Native integer dot product over `array<int>` codes — the int8 serving
  * tier's inner loop ([[Similarity.int8TopK]] / `ivfInt8TopK`). Exact
  * long arithmetic (codes ≤ 127 ⇒ products ≤ 16129, sums far inside
  * long range), identical to the `aggregate(zip_with(...))` Column
  * formulation it replaces — including null-out on length mismatch or a
  * null element — but inside whole-stage codegen instead of interpreted
  * CodegenFallback eval per candidate pair. One documented divergence
  * OUTSIDE the int8 domain: on a 32-bit product overflow ANSI mode makes
  * the Column formulation throw, while this loop wraps — unreachable for
  * quantized codes, spec-pinned equal on the full ±127 domain. */
case class IntDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<int>, array<int>), got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "int_dot"

  override protected def companion: AnyRef = IntDotExpr
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotExpr =
    copy(left = newLeft, right = newRight)
}

object IntDotExpr {
  /** Shared by interpreted `eval` and generated code. Null on length
    * mismatch or any null element — `zip_with`'s pad-with-null followed
    * by `aggregate`'s null propagation, the Column contract. */
  def run(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += (a.getInt(i) * b.getInt(i)).toLong
      i += 1
    }
    Long.box(dot)
  }
}

object CosineSimExpr {
  /** Shared by interpreted `eval` and generated code. Returns a boxed
    * Double, or null for mismatched/empty arrays, a zero norm, or a
    * null element (the HOF `transform`/`aggregate` formulation
    * propagates a null slot to a null result) — the
    * [[Similarity.cosine]] `when` contract. */
  def run(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n == 0 || b.numElements() != n) return null
    var dot = 0.0
    var na2 = 0.0
    var nb2 = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na2 += x * x
      nb2 += y * y
      i += 1
    }
    val na = math.sqrt(na2)
    val nb = math.sqrt(nb2)
    if (na > 0.0 && nb > 0.0) Double.box(dot / (na * nb)) else null
  }
}
