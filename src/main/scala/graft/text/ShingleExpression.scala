package graft.text

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.CompanionRun

/** Native Catalyst expression for stride-1 shingle keys: tokenizes the
  * string (the `native:plain_words_en` path, lowercase + punct-drop) and
  * returns the FNV-1a 64 of every k-token window's space-joined text,
  * offsets `0..n−k` (empty array for shorter documents).
  *
  * Value-identical to the compositional formulation
  * `transform(sequence(0, n−k), i -> fnv1a64(array_join(slice(toks, i+1, k), " ")))`
  * — but that pipeline runs INTERPRETED inside higher-order-function
  * lambdas (Spark evaluates lambda bodies per element without codegen)
  * and allocates a slice + joined string per offset. Shingling is the
  * dedup tier's hottest scan (every corpus token is hashed k times), so
  * like [[TokenizeExpr]] it earns the custom-Expression escape hatch:
  * one fused pass, tokens materialized once, windows hashed in a tight
  * loop, a static call keeping the scan inside whole-stage codegen. */
case class ShingleKeysExpr(child: Expression, k: Int) extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.catalogString}")
    else if (k <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k > 0, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "shingle_keys"

  override protected def companion: AnyRef = ShingleKeysExpr
  override protected def constants: Seq[Expression] = Seq(Literal(k))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): ShingleKeysExpr =
    copy(child = newChild)
}

/** Native Catalyst expression for winnowing fingerprint selection
  * (Schleimer, Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for
  * Document Fingerprinting"): over the [[ShingleKeysExpr]] hash sequence,
  * every window of `w` consecutive hashes contributes its minimum (the
  * RIGHTMOST minimum on ties — the paper's rule, which guarantees one
  * fingerprint per window with density 2/(w+1)); consecutive windows that
  * re-select the same position emit once. Output:
  * `array<struct<pos:int, fp:bigint>>` — `pos` is the selected shingle's
  * start offset, comparisons are on the SIGNED 64-bit value so the SQL
  * oracle's BIGINT min matches bit-for-bit.
  *
  * Fingerprinting is how near-dup detection amortizes at 100 TB: the
  * selected (pos, fp) set is ~2/(w+1) of the shingle stream yet any two
  * documents sharing a run of ≥ `w + k − 1` tokens are GUARANTEED to
  * share a fingerprint — the recall contract plain sampling lacks. */
case class WinnowExpr(child: Expression, k: Int, w: Int) extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.catalogString}")
    else if (k <= 0 || w <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k > 0 and w > 0, got k=$k w=$w")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = WinnowExpr.OutputType

  override def nullable: Boolean = false

  override def prettyName: String = "winnow_fingerprints"

  override protected def companion: AnyRef = WinnowExpr
  override protected def constants: Seq[Expression] = Seq(Literal(k), Literal(w))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}

object WinnowExpr {

  val OutputType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Shared by interpreted `eval` and generated code. A document shorter
    * than `k + w − 1` tokens (fewer than `w` shingles) emits the rightmost
    * minimum of whatever shingles it has — one fingerprint — matching the
    * paper's treatment of short documents; no tokens → empty. */
  def run(s: UTF8String, k: Int, w: Int): ArrayData = {
    val keys = ShingleKeysExpr.run(s, k)
    val m = keys.numElements()
    if (m == 0) return Empty
    val h = keys.toLongArray()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var lastPos = -1
    var j = 0
    val top = math.max(m - w, 0)
    while (j <= top) {
      val end = math.min(j + w, m)
      var best = j
      var p = j + 1
      while (p < end) {
        if (h(p) <= h(best)) best = p // rightmost min
        p += 1
      }
      if (best != lastPos) {
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](best, h(best)))
        lastPos = best
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object ShingleKeysExpr {

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Long])

  /** Shared by interpreted `eval` and generated code. Hash walk matches
    * [[Fnv1aExpr.run]] over the window's space-joined code points, so the
    * keys are exactly the oracle's `fnvSql(array_to_string(...))`. */
  def run(s: UTF8String, k: Int): ArrayData = {
    if (s == null) return Empty
    val toks = PlainTokenizer.tokenize(s.toString)
    val n = toks.length
    if (n < k) return Empty
    val words = new Array[String](n)
    var t = 0
    while (t < n) { words(t) = toks(t).token; t += 1 }
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = Fnv1aExpr.OffsetBasis
      var j = 0
      while (j < k) {
        if (j > 0) { h ^= ' '.toInt; h *= Fnv1aExpr.Prime }
        val w = words(i + j)
        var p = 0
        while (p < w.length) {
          val cp = w.codePointAt(p)
          h ^= cp
          h *= Fnv1aExpr.Prime
          p += Character.charCount(cp)
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}
