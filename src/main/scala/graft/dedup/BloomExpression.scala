package graft.dedup

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.sql.CompanionRun
import graft.text.Fnv1aExpr

/** Native Bloom-probe expression for the LARGE-bitset decontamination
  * path: `array<long>` gram keys → count of keys whose `numHashes` Bloom
  * positions are all set.
  *
  * The literal path ([[BloomDecontaminate.probe]] below the size
  * threshold) embeds the bitset as a `typedLit` — fine at the documented
  * eval-set contract (1 KiB at mBits=2^16) but a scale-killer for real
  * eval sets (2^30 bits = 128 MiB serialized into every task's plan and
  * through codegen). Above the threshold the words ride a BROADCAST
  * variable instead (one copy per executor, torrent-distributed), and
  * this expression takes it as a constant argument of `run` — the
  * [[graft.similarity.LshBucketsExpr]] pattern applied to a data-dependent
  * payload. Hash positions are bit-identical to the literal path's Column
  * algebra (`pmod(fnv1a64('j:' || key), mBits)`), so the two paths flag
  * identical documents — false positives included — and the oracle
  * contract is unchanged. */
case class BloomFlaggedExpr(
    child: Expression,
    bloom: Broadcast[Array[Long]],
    mBits: Int,
    numHashes: Int)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if mBits >= 64 && (mBits & (mBits - 1)) == 0 && numHashes >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires mBits a power of two >= 64 and numHashes >= 1")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def prettyName: String = "bloom_flagged"

  override protected def companion: AnyRef = BloomFlaggedExpr
  override protected def constants: Seq[Expression] = Seq(
    CompanionRun.obj(bloom, classOf[Broadcast[_]]), Literal(mBits), Literal(numHashes))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): BloomFlaggedExpr =
    copy(child = newChild)
}

object BloomFlaggedExpr {

  /** Bloom position of gram key `key` for hash index `j`: FNV-1a over the
    * code points of `"j:" + key` (decimal), floor-mod `mBits` — chars are
    * all ASCII, so the per-char walk equals [[Fnv1aExpr.run]]'s code-point
    * walk, which equals the oracle's per-character formulation. */
  def hashPos(j: Int, key: Long, mBits: Int): Long = {
    val s = new java.lang.StringBuilder(24).append(j).append(':').append(key).toString
    var h = Fnv1aExpr.OffsetBasis
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= Fnv1aExpr.Prime
      i += 1
    }
    java.lang.Math.floorMod(h, mBits.toLong)
  }

  /** Shared by interpreted `eval` and generated code. Null key arrays
    * flag nothing (the literal path's `size(filter(null)) → 0` shape is
    * never hit either — shingleKeys of null is an empty array). */
  def run(keys: ArrayData, bc: Broadcast[Array[Long]], mBits: Int, numHashes: Int): Long = {
    if (keys == null) return 0L
    val words = bc.value
    var flagged = 0L
    var i = 0
    val n = keys.numElements()
    while (i < n) {
      val key = keys.getLong(i)
      var all = true
      var j = 0
      while (j < numHashes && all) {
        val pos = hashPos(j, key, mBits)
        if (((words((pos >>> 6).toInt) >>> (pos & 63L).toInt) & 1L) == 0L) all = false
        j += 1
      }
      if (all) flagged += 1
      i += 1
    }
    flagged
  }
}
