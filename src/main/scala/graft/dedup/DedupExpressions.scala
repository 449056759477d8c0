package graft.dedup

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.CompanionRun

/** Native Catalyst expression for the per-document MinHash signature:
  * text → `array<long>` of `numHashes` minima of the seeded universal
  * hash family over the document's shingle set.
  *
  * Value-identical to the former `udf(minHashSignature)` — but signature
  * computation is the fingerprint tier's hottest scan (every shingle is
  * hashed `numHashes` times), and the ScalaUDF wrapper pays the
  * UTF8String→String→Array→Catalyst converter stack per row while
  * breaking whole-stage codegen across the projection. The
  * [[graft.text.ShingleKeysExpr]] escape hatch applied to signatures:
  * one static call to `run` ([[graft.sql.CompanionRun]]), the scan stays fused. */
case class MinHashExpr(child: Expression, numHashes: Int, shingleSize: Int, seed: Long)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.catalogString}")
    else if (numHashes <= 0 || shingleSize <= 0)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires numHashes > 0 and shingleSize > 0")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "minhash_signature"

  override protected def companion: AnyRef = MinHashExpr
  override protected def constants: Seq[Expression] =
    Seq(Literal(numHashes), Literal(shingleSize), Literal(seed))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): MinHashExpr =
    copy(child = newChild)
}

object MinHashExpr {
  /** Shared by interpreted `eval` and generated code. Null hashes as the
    * empty document (all-`Long.MaxValue` signature), the UDF-era
    * contract. */
  def run(s: UTF8String, numHashes: Int, shingleSize: Int, seed: Long): ArrayData =
    new GenericArrayData(
      Dedup.minHashSignature(if (s == null) null else s.toString, numHashes, shingleSize, seed))
}

/** Native Catalyst expression for the 64-bit SimHash fingerprint (FNV
  * token hashes, per-bit majority votes) — the same escape-hatch
  * argument as [[MinHashExpr]]: every token votes on 64 bits, the UDF
  * wrapper was the only non-codegen operator in the fingerprint scan. */
case class SimHashExpr(child: Expression) extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def prettyName: String = "simhash64"

  override protected def companion: AnyRef = SimHashExpr
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

object SimHashExpr {
  /** Null fingerprints as the empty document (0L), the UDF-era contract. */
  def run(s: UTF8String): Long =
    Dedup.simHash64(if (s == null) null else s.toString)
}

/** Native Catalyst expression for LSH band hashes: `array<long>` MinHash
  * signature → `array<struct<band int, band_hash long>>`, one struct per
  * band, hash = FNV-1a of the band's comma-joined signature slice — the
  * exact string the UDF-era `bandHashes` hashed, so keys (and therefore
  * buckets, pairs, and the oracle) are bit-identical.
  *
  * Last of the fingerprint-family UDF conversions: the LSH pairs scan now
  * carries no ScalaUDF anywhere (plan-pinned) — the converter stack and
  * the codegen break it forced on the explode projection are gone. */
case class BandHashesExpr(child: Expression, bands: Int) extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if bands > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires bands > 0")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("band", IntegerType, nullable = false),
      StructField("band_hash", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "lsh_band_hashes"

  override protected def companion: AnyRef = BandHashesExpr
  override protected def constants: Seq[Expression] = Seq(Literal(bands))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): BandHashesExpr =
    copy(child = newChild)
}

object BandHashesExpr {
  /** Shared by interpreted `eval` and generated code. Null signatures
    * band nowhere (empty array) — unreachable from [[Dedup]] (signatures
    * are non-nullable), kept for expression-level totality. */
  def run(sig: ArrayData, bands: Int): ArrayData = {
    if (sig == null) return new GenericArrayData(Array.empty[Any])
    val n = sig.numElements()
    val rows = math.max(1, n / bands)
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val from = math.min(b * rows, n)
      val until = math.min((b + 1) * rows, n)
      // FNV-1a over the band slice's "v0,v1,..." decimal join — the
      // UDF-era slice.mkString(",") contract, char for char
      val sb = new java.lang.StringBuilder(rows * 20)
      var i = from
      while (i < until) {
        if (i > from) sb.append(',')
        sb.append(sig.getLong(i))
        i += 1
      }
      val s = sb
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < s.length()) {
        h ^= s.charAt(j).toLong
        h *= 0x100000001b3L
        j += 1
      }
      out(b) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](b, h))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Native sorted-set intersection count: two SORTED `array<string>`
  * columns → the number of common elements, by a zero-allocation
  * two-pointer walk over the `ArrayData` (binary `UTF8String.compareTo`,
  * no per-row hash set — `array_intersect` builds one per invocation,
  * which made the bucket-level Jaccard pair scan allocation-bound).
  * Inputs must be sorted ascending and duplicate-free (`sort_array` over
  * a `collect_set`); the caller owns that invariant. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<string> columns, got $other")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "sorted_intersect_count"

  override protected def companion: AnyRef = SortedIntersectCountExpr
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCountExpr {
  /** Shared by interpreted `eval` and generated code. Null elements (if
    * the array type admits them) sort first in `sort_array` and compare
    * equal to each other — counted once, like `array_intersect`. */
  def run(l: ArrayData, r: ArrayData): Int = {
    var i = 0; var j = 0; var n = 0
    val ln = l.numElements(); val rn = r.numElements()
    while (i < ln && j < rn) {
      val ln0 = l.isNullAt(i); val rn0 = r.isNullAt(j)
      if (ln0 && rn0) { n += 1; i += 1; j += 1 }
      else if (ln0) i += 1 // nulls first
      else if (rn0) j += 1
      else {
        val c = l.getUTF8String(i).compareTo(r.getUTF8String(j))
        if (c == 0) { n += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    n
  }
}
