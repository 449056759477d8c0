package graft.topic

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.CompanionRun

/** Native Catalyst expression for document chunking: text →
  * `array<string>` of chunk texts under the greedy
  * paragraph/sentence/word packer ([[Chunking.chunkDocument]]).
  *
  * Replaces the chunking UDFs in the topic pipeline and q_chunking —
  * the same static-helper escape hatch as the fingerprint expressions:
  * no per-row Seq[String] encoder round-trip, scan stays codegen'd.
  * `modelId` empty ⇒ the whitespace default counter; otherwise the
  * embedder registry's executor-singleton tokenizer sizes units (the
  * model resolves inside the helper, never in a closure). */
case class ChunkTextsExpr(child: Expression, maxTokens: Int, overlap: Int, modelId: String)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.catalogString}")
    else if (maxTokens <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires maxTokens > 0")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "chunk_texts"

  override protected def companion: AnyRef = ChunkTextsExpr
  override protected def constants: Seq[Expression] = Seq(
    Literal(maxTokens), Literal(overlap), CompanionRun.obj(modelId, classOf[String]))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): ChunkTextsExpr =
    copy(child = newChild)
}

object ChunkTextsExpr {
  /** Shared by interpreted `eval` and generated code. Null chunks as the
    * empty document (no chunks) — the UDF-era contract. */
  def run(s: UTF8String, maxTokens: Int, overlap: Int, modelId: String): ArrayData = {
    val counter: String => Int =
      if (modelId == null || modelId.isEmpty) Chunking.defaultCounter
      else t => graft.embed.EmbedderRegistry.ensure(modelId).countTokens(t)
    val chunks = Chunking
      .chunkDocument(0L, if (s == null) null else s.toString,
        Chunking.Config(maxTokens, overlap), counter)
      .map(c => UTF8String.fromString(c.text))
    new GenericArrayData(chunks.toArray[Any])
  }
}
