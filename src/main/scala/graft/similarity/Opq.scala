package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

import graft.sql.CompanionRun

/** Optimized Product Quantization (Ge et al. 2013, "Optimized Product
  * Quantization for Approximate Nearest Neighbor Search", CVPR —
  * non-parametric OPQ, §4): learn an ORTHOGONAL rotation `R` jointly
  * with the PQ codebooks by alternating
  *
  *   1. fix `R`: train per-subspace codebooks on the rotated sample,
  *   2. fix codebooks: solve the orthogonal Procrustes problem
  *      `min_R ||X·Rᵀ − Ŷ||_F` (Ŷ = the PQ reconstruction) via SVD —
  *      `XᵀŶ = U·Σ·Vᵀ ⇒ Rᵀ = U·Vᵀ` (breeze ships with Spark).
  *
  * The rotation redistributes variance across subspaces, cutting the
  * quantization error PQ pays when dimensions are correlated or
  * unbalanced — on anisotropic data recall@k improves over plain PQ at
  * identical code size (spec-demonstrated); rotation preserves L2/cosine
  * ranking, so the EXACT reference ranking is unchanged.
  *
  * Serving reuses the whole existing PQ stack on the rotated column:
  * [[MatVecExpr]] (codegen'd, one matrix-vector per row) feeds
  * [[ProductQuant.encodeCol]]/[[ProductQuant.adcTopK]] unchanged. The
  * float rounding contract matches the oracle: each rotated coordinate
  * is the DOUBLE dot product rounded to FLOAT, which DuckDB reproduces
  * as `CAST(list_inner_product(rv, x) AS FLOAT)`. */
object Opq {

  /** `y = R·x` with the expression's exact arithmetic: double
    * accumulation in index order, rounded to float per coordinate. */
  private[similarity] def rotate(r: Array[Array[Double]], x: Array[Float]): Array[Float] = {
    val out = new Array[Float](r.length)
    var i = 0
    while (i < r.length) {
      val row = r(i)
      var acc = 0.0
      var j = 0
      while (j < row.length) { acc += row(j) * x(j).toDouble; j += 1 }
      out(i) = acc.toFloat
      i += 1
    }
    out
  }

  /** Column form of the rotation. */
  def rotateCol(vec: Column, r: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      MatVecExpr(org.apache.spark.sql.graft.Bridge.expression(vec), r))

  /** Train `(R, codebooks)` on the same seeded hash-ordered sample the
    * plain PQ trainer uses. Deterministic: seeded sample, seeded Lloyd,
    * LAPACK SVD — and the oracle consumes the EXPORTED values, so the
    * contract is self-consistent per run regardless. */
  def trainedRotation(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      m: Int = 8,
      k: Int = 16,
      seed: Long = 42L,
      sampleSize: Int = 10000,
      iters: Int = 8): (Array[Array[Double]], Array[Array[Array[Float]]]) = {
    import corpus.sparkSession.implicits._
    val sample = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(lit(seed), col(idCol)))
      .limit(sampleSize)
      .select(col(vecCol))
      .as[Seq[Float]]
      .collect()
      .map(_.toArray)
    require(sample.nonEmpty, "Opq.trainedRotation: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"Opq: dim $dim not divisible into $m subspaces")
    val dsub = dim / m

    var r: Array[Array[Double]] = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)

    def codebooksFor(rot: Array[Array[Double]]): Array[Array[Array[Float]]] = {
      val y = sample.map(rotate(rot, _))
      Array.tabulate(m) { i =>
        val slices = y.map(v => java.util.Arrays.copyOfRange(v, i * dsub, (i + 1) * dsub))
        Similarity.trainCentroids(slices, k, seed + i)
      }
    }

    var cbs = codebooksFor(r)
    var it = 0
    while (it < iters) {
      // reconstruction of each rotated sample from its codes
      val y = sample.map(rotate(r, _))
      val yhat = y.map { v =>
        val rec = new Array[Double](dim)
        var i = 0
        while (i < m) {
          val cb = cbs(i)
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cb.length) {
            val d = ProductQuant.subDist2(v, i * dsub, cb(c))
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var j = 0
          while (j < dsub) { rec(i * dsub + j) = cb(best)(j).toDouble; j += 1 }
          i += 1
        }
        rec
      }
      // Procrustes: XᵀŶ = U·Σ·Vᵀ  ⇒  Q = U·Vᵀ minimizes ||X·Q − Ŷ||, R = Qᵀ
      val xtyh = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
      var s = 0
      while (s < sample.length) {
        val xv = sample(s); val yv = yhat(s)
        var a = 0
        while (a < dim) {
          val xa = xv(a).toDouble
          var b = 0
          while (b < dim) { xtyh(a, b) += xa * yv(b); b += 1 }
          a += 1
        }
        s += 1
      }
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(xtyh)
      val q = u * vt
      r = Array.tabulate(dim, dim)((i, j) => q(j, i)) // R = Qᵀ
      cbs = codebooksFor(r)
      it += 1
    }
    (r, cbs)
  }
}

/** Native codegen'd matrix–vector product: `array<float>` → `array<float>`,
  * `y_i = float(Σ_j R[i][j]·x_j)` with double accumulation in index order
  * (the DuckDB `CAST(list_inner_product(rv, x) AS FLOAT)` contract). */
case class MatVecExpr(child: Expression, matrix: Array[Array[Double]])
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if matrix.nonEmpty && matrix.forall(_.length == matrix.head.length) =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a non-empty rectangular matrix")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def prettyName: String = "mat_vec"

  override protected def companion: AnyRef = MatVecExpr
  override protected def constants: Seq[Expression] =
    Seq(CompanionRun.obj(matrix, classOf[Array[Array[Double]]]))
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): MatVecExpr =
    copy(child = newChild)
}

object MatVecExpr {
  /** Shared by interpreted eval and generated code. */
  def run(v: ArrayData, matrix: Array[Array[Double]]): ArrayData = {
    val x = v.toFloatArray()
    val out = new Array[Any](matrix.length)
    var i = 0
    while (i < matrix.length) {
      val row = matrix(i)
      var acc = 0.0
      var j = 0
      while (j < row.length) { acc += row(j) * x(j).toDouble; j += 1 }
      out(i) = acc.toFloat
      i += 1
    }
    new GenericArrayData(out)
  }
}
