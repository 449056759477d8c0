package graft.similarity

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.sql.CompanionRun

/** Native Catalyst expression for sign-LSH bucket keys: `array<float>` →
  * `array<struct<table int, bucket long>>`, one struct per table, bucket
  * = the sign bits of `bits` seeded hyperplane projections.
  *
  * Two wins over the former `udf(lshBuckets)`: (a) the ScalaUDF wrapper
  * boxed every vector component through `Seq[Float]` per row; (b) the
  * hyperplane components were REGENERATED per row — tables×bits×dim
  * splitmix evaluations for every vector. The expression keeps the scan
  * codegen'd and caches the plane matrix once per (tables, bits, seed,
  * dim) per executor JVM; values are bit-identical (the planes come from
  * the same [[Similarity.lshPlanes]] generator the oracle inlines). */
case class LshBucketsExpr(child: Expression, tables: Int, bits: Int, seed: Long)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if tables > 0 && bits > 0 && bits <= 64 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires tables > 0 and 0 < bits <= 64")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("table", IntegerType, nullable = false),
      StructField("bucket", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "lsh_buckets"

  override protected def companion: AnyRef = LshBucketsExpr
  override protected def constants: Seq[Expression] =
    Seq(Literal(tables), Literal(bits), Literal(seed))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): LshBucketsExpr =
    copy(child = newChild)
}

object LshBucketsExpr {

  /** `planes((t*bits + b)*dim + d)` — flat, cached per executor JVM.
    * Components come from the same generator the oracle inlines
    * ([[Similarity.lshPlanes]]), so caching changes cost, never values.
    * BOUNDED (access-order LRU, [[MaxCachedConfigs]] entries): a
    * long-lived executor serving many (tables, bits, seed, dim) configs
    * must not accumulate tables×bits×dim doubles per key forever — each
    * entry is cheap to regenerate deterministically on re-miss. */
  private val MaxCachedConfigs = 8
  private val planeCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(Int, Int, Long, Int), Array[Double]](16, 0.75f, true) {
        override def removeEldestEntry(
            eldest: java.util.Map.Entry[(Int, Int, Long, Int), Array[Double]]): Boolean =
          size() > MaxCachedConfigs
      })

  private def planes(tables: Int, bits: Int, seed: Long, dim: Int): Array[Double] =
    planeCache.synchronized {
      planeCache.computeIfAbsent((tables, bits, seed, dim), { _ =>
        val arr = new Array[Double](tables * bits * dim)
        var i = 0
        for (t <- 0 until tables; b <- 0 until bits; d <- 0 until dim) {
          arr(i) = Similarity.planeComponentPublic(seed, t, b, d)
          i += 1
        }
        arr
      })
    }

  /** Shared by interpreted `eval` and generated code. Null or empty
    * vectors bucket nowhere (empty array) — the UDF-era contract. */
  def run(v: ArrayData, tables: Int, bits: Int, seed: Long): ArrayData = {
    if (v == null || v.numElements() == 0)
      return new GenericArrayData(Array.empty[Any])
    val dim = v.numElements()
    val p = planes(tables, bits, seed, dim)
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        var dot = 0.0
        val off = (t * bits + b) * dim
        var d = 0
        while (d < dim) {
          dot += v.getFloat(d) * p(off + d)
          d += 1
        }
        if (dot > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = new GenericInternalRow(Array[Any](t, bucket))
      t += 1
    }
    new GenericArrayData(out)
  }
}
