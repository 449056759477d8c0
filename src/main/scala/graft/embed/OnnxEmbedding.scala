package graft.embed

import java.util.concurrent.ConcurrentHashMap

import graft.text.WordPieceTokenizer
import graft.util.Settings

/** Gated REAL-ONNX embedding backend — the drop-in behind
  * [[EmbeddingModel]] the pseudo-embedder has stood in for (reference
  * `/root/reference/src/topic_modeling/embedding.rs:48-432`).
  *
  * This build is zero-egress, so the gate never downloads anything. The
  * `onnx:*` registry family resolves to this backend only when ALL local
  * preconditions hold ([[OnnxRuntimeGate.available]]):
  *
  *   1. the ONNX Runtime classes (`ai.onnxruntime.*`) are loadable — the
  *      jar is NOT bundled; a deployment adds it to the executor
  *      classpath;
  *   2. `GRAFT_ONNX_MODEL_PATH` names a local `.onnx` file;
  *   3. `GRAFT_ONNX_VOCAB_PATH` names the model's local `vocab.txt`.
  *
  * Otherwise `onnx:*` keeps failing fast with the reason — the pseudo
  * default is untouched, mirroring the reference's network-gated test
  * posture (`tests/test_lindera_integration.py:20-33`: skip, don't fake,
  * when the artifact is absent).
  *
  * Everything except the actual `session.run` is pure and spec-covered
  * offline: WordPiece id encoding, [CLS]/[SEP] framing, padding,
  * truncation, the attention mask ([[OnnxEmbeddingModel.prepare]]), and
  * both output poolings (`[batch, seq, dim]` mean-pool → [[Pooling]];
  * `[batch, dim]` row normalize). The ORT crossing itself is reflective
  * ([[OnnxRuntimeGate.Session]]) so this file compiles and loads without
  * the jar; sessions are per-executor-JVM singletons keyed by model path
  * (models never travel in closures, same as [[EmbedderRegistry]]).
  */
object OnnxRuntimeGate {

  val ModelPathEnv = "GRAFT_ONNX_MODEL_PATH"
  val VocabPathEnv = "GRAFT_ONNX_VOCAB_PATH"
  /** Output dimension of the local model (`[batch, seq, dim]` hidden or
    * `[batch, dim]` pooled); MiniLM-class default. */
  val DimEnv = "GRAFT_ONNX_DIM"
  val DefaultDim = 384

  def runtimePresent: Boolean =
    try { Class.forName("ai.onnxruntime.OrtEnvironment"); true }
    catch { case _: Throwable => false }

  private def existingFile(env: String): Option[String] =
    sys.env.get(env).filter(p => new java.io.File(p).isFile)

  def modelPath: Option[String] = existingFile(ModelPathEnv)
  def vocabPath: Option[String] = existingFile(VocabPathEnv)
  def dim: Int = dimFrom(sys.env.get(DimEnv))

  private[graft] def dimFrom(env: Option[String]): Int = Settings.int(DimEnv, env, DefaultDim)

  def available: Boolean = runtimePresent && modelPath.isDefined && vocabPath.isDefined

  def unavailableReason: String = {
    val missing = Seq(
      (!runtimePresent, "ONNX Runtime classes (ai.onnxruntime.*) not on the classpath"),
      (modelPath.isEmpty, s"$ModelPathEnv does not name a local model file"),
      (vocabPath.isEmpty, s"$VocabPathEnv does not name a local vocab.txt"))
      .collect { case (true, why) => why }
    if (missing.isEmpty) "available" else missing.mkString("; ")
  }

  /** Reflective per-JVM ORT session. Constructed only behind
    * [[available]]; every member resolves `ai.onnxruntime` classes by
    * name so the enclosing file has no compile-time dependency. */
  final class Session(modelPath: String) {
    private val envCls = Class.forName("ai.onnxruntime.OrtEnvironment")
    private val env = envCls.getMethod("getEnvironment").invoke(null)
    private val optsCls = Class.forName("ai.onnxruntime.OrtSession$SessionOptions")
    private val session = envCls
      .getMethod("createSession", classOf[String], optsCls)
      .invoke(env, modelPath, optsCls.getDeclaredConstructor().newInstance().asInstanceOf[Object])
    private val sessionCls = Class.forName("ai.onnxruntime.OrtSession")
    private val tensorCls = Class.forName("ai.onnxruntime.OnnxTensor")
    private val createTensor = tensorCls.getMethod(
      "createTensor", envCls, classOf[java.nio.LongBuffer], classOf[Array[Long]])
    private val inputNames: java.util.Set[String] =
      sessionCls.getMethod("getInputNames").invoke(session).asInstanceOf[java.util.Set[String]]

    /** Run the encoder. Returns either `float[batch][seq][dim]` (hidden
      * states — caller mean-pools) or `float[batch][dim]` (pre-pooled).
      * Input OnnxTensors hold NATIVE (off-heap) buffers — they are
      * closed in the finally block alongside the result, otherwise a
      * long embedding job leaks native memory per batch and OOMs the
      * executor outside the JVM heap. */
    def run(ids: Array[Long], mask: Array[Long], batch: Int, seq: Int): AnyRef = {
      val shape = Array(batch.toLong, seq.toLong)
      val created = new java.util.ArrayList[AnyRef]()
      def tensor(data: Array[Long]) = {
        val t = createTensor.invoke(null, env, java.nio.LongBuffer.wrap(data), shape)
        created.add(t)
        t
      }
      var result: AnyRef = null
      try {
        val feeds = new java.util.HashMap[String, AnyRef]()
        inputNames.forEach {
          case n @ "input_ids"      => feeds.put(n, tensor(ids))
          case n @ "attention_mask" => feeds.put(n, tensor(mask))
          case n @ "token_type_ids" => feeds.put(n, tensor(new Array[Long](ids.length)))
          case other                => throw new IllegalStateException(s"unsupported ONNX input '$other'")
        }
        result = sessionCls.getMethod("run", classOf[java.util.Map[_, _]]).invoke(session, feeds)
        val value = result.getClass.getMethod("get", classOf[Int])
          .invoke(result, Integer.valueOf(0))
        Class.forName("ai.onnxruntime.OnnxValue").getMethod("getValue").invoke(value)
      } finally {
        if (result != null) result.getClass.getMethod("close").invoke(result)
        created.forEach { t =>
          try t.getClass.getMethod("close").invoke(t)
          catch { case _: Throwable => () } // best-effort; close() is idempotent in ORT
        }
      }
    }
  }

  private val sessions = new ConcurrentHashMap[String, Session]()

  def sessionFor(modelPath: String): Session =
    sessions.computeIfAbsent(modelPath, new Session(_))
}

/** WordPiece-fronted ONNX sentence embedder. `vocabLines` is the model's
  * `vocab.txt` in distribution order (line index = token id). */
final case class OnnxEmbeddingModel(
    modelPath: String,
    vocabLines: Vector[String],
    override val dim: Int,
    override val maxSeqLen: Int = 512)
    extends EmbeddingModel {

  @transient private lazy val pieces: Vector[String] = vocabLines.map(_.trim)
  @transient private lazy val pieceId: Map[String, Int] = pieces.zipWithIndex.toMap
  @transient private lazy val tokenizer = new WordPieceTokenizer(pieces.filter(_.nonEmpty).toSet)
  @transient private lazy val clsId = specialId("[CLS]")
  @transient private lazy val sepId = specialId("[SEP]")
  @transient private lazy val padId = specialId("[PAD]")
  @transient private lazy val unkId = specialId("[UNK]")

  private def specialId(tok: String): Long =
    pieceId.getOrElse(tok, throw new IllegalArgumentException(s"vocab has no $tok")).toLong

  /** Pure input prep: `(flat input_ids, flat attention_mask, seq)` padded
    * to the batch's longest frame, `[CLS] … [SEP]` framed, truncated so
    * frame length ≤ maxSeqLen. Null texts → all-[PAD], all-0 mask rows
    * (they pool to the empty vector downstream). Undecomposable words
    * become `[UNK]` pieces which the shared WordPiece special-token
    * filter drops — frames carry real pieces only (the `unkId` fallback
    * below is unreachable belt-and-braces). */
  private[embed] def prepare(texts: Seq[String]): (Array[Long], Array[Long], Int) = {
    val encoded: Seq[Array[Long]] = texts.map {
      case null => null
      case t =>
        val body = tokenizer
          .tokenize(t, lowercase = true, removePunct = false)
          .take(maxSeqLen - 2)
          .map(tok => pieceId.get(tok.token).fold(unkId)(_.toLong))
        (clsId +: body :+ sepId).toArray
    }
    val seq = math.max(2, encoded.filter(_ != null).map(_.length).maxOption.getOrElse(2))
    val batch = texts.length
    val ids = Array.fill(batch * seq)(padId)
    val mask = new Array[Long](batch * seq)
    encoded.zipWithIndex.foreach {
      case (null, _) => ()
      case (row, b) =>
        System.arraycopy(row, 0, ids, b * seq, row.length)
        java.util.Arrays.fill(mask, b * seq, b * seq + row.length, 1L)
    }
    (ids, mask, seq)
  }

  override def countTokens(text: String): Int =
    if (text == null) 0 else tokenizer.tokenize(text, lowercase = true, removePunct = false).length

  override def encodeBatch(texts: Seq[String]): Seq[Array[Float]] = {
    if (texts.isEmpty) return Seq.empty
    val (ids, mask, seq) = prepare(texts)
    val batch = texts.length
    val pooled = OnnxRuntimeGate.sessionFor(modelPath).run(ids, mask, batch, seq) match {
      case hidden: Array[Array[Array[Float]]] =>
        // [batch, seq, dim] last_hidden_state → reference mean-pool + L2
        val flat = new Array[Float](batch * seq * dim)
        var b = 0
        while (b < batch) {
          var s = 0
          while (s < seq) {
            System.arraycopy(hidden(b)(s), 0, flat, (b * seq + s) * dim, dim)
            s += 1
          }
          b += 1
        }
        Pooling.meanPoolNormalize(flat, batch, seq, dim, mask)
      case rows: Array[Array[Float]] =>
        // [batch, dim] pre-pooled output → L2 only
        Pooling.normalizeRows(rows.flatten, batch, dim)
      case other =>
        throw new IllegalStateException(s"unexpected ONNX output ${other.getClass}")
    }
    texts.zip(pooled).map { case (t, v) => if (t == null) Array.empty[Float] else v }
  }
}

object OnnxEmbeddingModel {

  /** Build from the gate's env-var configuration (gate must be open). */
  def fromEnv(): OnnxEmbeddingModel = {
    require(OnnxRuntimeGate.available, OnnxRuntimeGate.unavailableReason)
    val vocab = scala.io.Source.fromFile(OnnxRuntimeGate.vocabPath.get, "UTF-8")
    try OnnxEmbeddingModel(OnnxRuntimeGate.modelPath.get, vocab.getLines().toVector, OnnxRuntimeGate.dim)
    finally vocab.close()
  }
}
