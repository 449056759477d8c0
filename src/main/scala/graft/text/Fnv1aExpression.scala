package graft.text

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.CompanionRun

/** Native Catalyst expression for FNV-1a 64 over the Unicode code points
  * of a string; null → hash of the empty string (the FNV offset basis).
  *
  * Exists because the engine needs ONE well-avalanched 64-bit string hash
  * that is (a) codegen'd — sampling gates and bucket assignments are
  * scan-speed paths — and (b) independently recomputable by the DuckDB
  * oracle (HUGEINT wrap-around arithmetic; see `fnvSql`). The polynomial
  * 31-hash ([[CodePointHashExpr]]) is NOT a substitute for gating: it is
  * affine in the trailing character, so thresholding it on sequential ids
  * produces badly skewed samples (measured 5/1000 at a 10% rate);
  * FNV-1a's per-step 2^40-prime multiply restores uniformity (101/1000
  * at the same rate).
  */
case class Fnv1aExpr(child: Expression) extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def prettyName: String = "fnv1a64"

  override protected def companion: AnyRef = Fnv1aExpr
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): Fnv1aExpr =
    copy(child = newChild)
}

object Fnv1aExpr {

  val OffsetBasis: Long = 0xcbf29ce484222325L
  val Prime: Long = 0x100000001b3L

  /** Shared by interpreted `eval` and generated code. Walks code points
    * (surrogate pairs hash as one value) to match the oracle's
    * per-character `unicode(ch)` formulation. */
  def run(s: UTF8String): Long = {
    if (s == null) return OffsetBasis
    val str = s.toString
    var h = OffsetBasis
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h ^= cp
      h *= Prime
      i += Character.charCount(cp)
    }
    h
  }
}
