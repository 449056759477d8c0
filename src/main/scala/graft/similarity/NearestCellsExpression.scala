package graft.similarity

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.sql.CompanionRun

/** Native Catalyst expression for IVF cell routing: `array<float>` →
  * the `nProbe` nearest coarse-quantizer cells as `array<int>`, ordered
  * by (squared distance, cell id) — `nProbe = 1` is plain assignment.
  *
  * Replaces the `udf(nearestCell)` / `udf(nearestCells)` closures: same
  * doubles (the [[Similarity]] `dist2` left-to-right fold the oracle
  * re-derives), but the scan stays codegen'd and vector components are
  * read straight from `ArrayData` instead of boxing through
  * `Seq[Float]`. The trained centroid matrix is a constant object
  * argument of `run` — driver-computed config shipped once per plan, the
  * `trainedCentroids` shared-config pattern. */
case class NearestCellsExpr(child: Expression, centroids: Array[Array[Float]], nProbe: Int)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if centroids.nonEmpty && nProbe >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires non-empty centroids and nProbe >= 1")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "nearest_cells"

  override protected def companion: AnyRef = NearestCellsExpr
  override protected def constants: Seq[Expression] = Seq(
    CompanionRun.obj(centroids, classOf[Array[Array[Float]]]), Literal(nProbe))
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): NearestCellsExpr =
    copy(child = newChild)
}

object NearestCellsExpr {
  /** Shared by interpreted `eval` and generated code. */
  def run(v: ArrayData, centroids: Array[Array[Float]], nProbe: Int): ArrayData = {
    val arr = v.toFloatArray()
    val cells = Similarity.nearestCells(arr, centroids, nProbe)
    new GenericArrayData(cells.toArray[Any])
  }
}
