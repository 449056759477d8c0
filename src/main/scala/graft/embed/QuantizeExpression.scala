package graft.embed

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.sql.CompanionRun

/** Native symmetric int8 quantization: `array<float>` →
  * `struct<scale double, qvec array<int>>` in one fused loop.
  *
  * Replaces the higher-order-function Column program in
  * [[VectorQuant.quantizeInt8]] on the serving-tier scans: HOFs are
  * CodegenFallback, so every CORPUS vector paid interpreted eval in the
  * int8/IVF×int8 cell-assignment scans. Values are identical field by
  * field:
  *   - `scale = max|x| / 127` over exact float→double widenings
  *     (null for an empty vector, as `array_max(empty)` is);
  *   - `q_i = clamp(round(x_i / scale))` with Spark `round`'s exact
  *     semantics — '''Scala BigDecimal HALF_UP''' on the double (what
  *     `Round.nullSafeEval` does), NOT `floor(|x|+0.5)`, whose binary
  *     carry differs on worst-case doubles;
  *   - zero vectors → scale 0.0, all-zero codes; null vector → null
  *     struct (field access then yields the Column program's two nulls).
  */
case class QuantizeInt8Expr(child: Expression) extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = true),
    StructField("qvec", ArrayType(IntegerType, containsNull = false), nullable = false)))

  override def prettyName: String = "quantize_int8"

  // nullable even over a non-null child: a null ELEMENT nulls the struct
  override def nullable: Boolean = true

  override protected def companion: AnyRef = QuantizeInt8Expr
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8Expr =
    copy(child = newChild)
}

object QuantizeInt8Expr {
  /** Shared by interpreted `eval` and generated code. A null ELEMENT
    * nulls the whole struct: the output qvec is declared
    * `containsNull=false`, so the HOF program's per-slot null cannot be
    * represented — a vector with a null component has no meaningful
    * symmetric scale anyway, and reading the slot as 0.0 (the previous
    * behavior) fabricated codes. */
  def run(v: ArrayData): InternalRow = {
    val n = v.numElements()
    if (n == 0)
      return new GenericInternalRow(Array[Any](null, new GenericArrayData(Array.empty[Any])))
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val d = math.abs(v.getFloat(i).toDouble)
      if (d > maxAbs) maxAbs = d
      i += 1
    }
    val scale = maxAbs / 127.0
    val out = new Array[Any](n)
    if (maxAbs > 0.0) {
      i = 0
      while (i < n) {
        val q = BigDecimal(v.getFloat(i).toDouble / scale)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
        out(i) = (if (q > 127.0) 127.0 else if (q < -127.0) -127.0 else q).toInt
        i += 1
      }
    } else {
      i = 0
      while (i < n) { out(i) = 0; i += 1 }
    }
    new GenericInternalRow(Array[Any](scale, new GenericArrayData(out)))
  }
}
