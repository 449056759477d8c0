package graft.embed

import graft.text.WordPieceTokenizer
import graft.util.Settings

/** Gated REAL-WEIGHTS pure-JVM BERT/MiniLM encoder — closes the last
  * increment of the embedding architecture without ONNX: the forward
  * pass runs entirely in this JVM ([[TransformerModel]]'s posture) but
  * the weights come from a LOCAL `model.safetensors` checkpoint instead
  * of seeded random-init, so a deployment that drops
  * `all-MiniLM-L6-v2`'s published files next to the job gets real
  * semantic embeddings with no extra runtime on the classpath
  * (reference default: MiniLM, `/root/reference/src/topic_modeling/
  * embedding.rs:37`; its mean-pool + L2 contract `embedding.rs:168-250`
  * is [[Pooling.meanPoolNormalize]], shared by every backend here).
  *
  * Zero-egress gate ([[BertWeightsGate]], the [[OnnxRuntimeGate]] /
  * `HfTokenizerGate` posture — skip, don't fake, when the artifact is
  * absent): loads only when `GRAFT_BERT_WEIGHTS_PATH` names a local
  * safetensors file and `GRAFT_BERT_VOCAB_PATH` its `vocab.txt`. Head
  * count rides `GRAFT_BERT_HEADS` (MiniLM default 12) since safetensors
  * carries no config. System-property twins exist for in-JVM tests.
  *
  * Architecture (the published BERT encoder, full fidelity — unlike the
  * reduced ungated fixture):
  *   - embeddings: word + learned position + token-type-0, then a
  *     LEARNED LayerNorm (γ/β from the checkpoint, ε = 1e-12);
  *   - `[CLS] body [SEP]` framing with the checkpoint's WordPiece ids
  *     (body truncated to maxSeq − 2, the reference's truncation);
  *   - per layer: multi-head self-attention (PyTorch Linear convention
  *     `y = xWᵀ + b`), residual + learned LN, intermediate GELU (the
  *     EXACT erf form — BERT's `hidden_act="gelu"`; commons-math3 rides
  *     Spark's classpath), output dense, residual + learned LN;
  *   - mean-pool over all real frames (CLS/SEP included, the
  *     sentence-transformers mask semantics) + L2, via the shared
  *     padded-batch [[Pooling.meanPoolNormalize]].
  *
  * Double accumulation throughout, rounded to float only at the hidden
  * states handed to pooling — bit-reproducible across executors.
  * Attention runs per sequence (padding never enters a softmax), so a
  * text embeds identically alone or inside any batch. */
object BertWeightsGate {

  val WeightsPathEnv = "GRAFT_BERT_WEIGHTS_PATH"
  val VocabPathEnv = "GRAFT_BERT_VOCAB_PATH"
  val HeadsEnv = "GRAFT_BERT_HEADS"
  /** sys-prop twins (checked first) so in-JVM specs can gate without
    * forking — the `HfTokenizerGate` pattern. */
  val WeightsPathProp = "graft.bert.weights.path"
  val VocabPathProp = "graft.bert.vocab.path"
  val HeadsProp = "graft.bert.heads"

  /** The registry id the gated model serves. */
  val ModelId = "local:bert-safetensors"

  private def existing(v: Option[String]): Option[String] =
    v.filter(p => new java.io.File(p).isFile)

  def weightsPath: Option[String] =
    existing(sys.props.get(WeightsPathProp)).orElse(existing(sys.env.get(WeightsPathEnv)))
  def vocabPath: Option[String] =
    existing(sys.props.get(VocabPathProp)).orElse(existing(sys.env.get(VocabPathEnv)))
  def heads: Int = headsFrom(sys.props.get(HeadsProp), sys.env.get(HeadsEnv))

  private[graft] def headsFrom(prop: Option[String], env: Option[String]): Int =
    if (prop.isDefined) Settings.int(HeadsProp, prop, 12) else Settings.int(HeadsEnv, env, 12)

  def available: Boolean = weightsPath.isDefined && vocabPath.isDefined

  def unavailableReason: String = {
    val missing = Seq(
      (weightsPath.isEmpty, s"$WeightsPathEnv does not name a local model.safetensors"),
      (vocabPath.isEmpty, s"$VocabPathEnv does not name a local vocab.txt"))
      .collect { case (true, why) => why }
    if (missing.isEmpty) "available" else missing.mkString("; ")
  }
}

/** Checkpoint tensors resolved into the forward pass's layout. All
  * weights promoted to Double once at load (the accumulate-in-double
  * posture); Linear weights kept in PyTorch `[out][in]` orientation. */
final class BertWeights(tensors: Map[String, SafeTensors.Tensor]) extends Serializable {

  /** `all-MiniLM-L6-v2` ships unprefixed (`embeddings.…`); full
    * `BertForMaskedLM` exports carry a `bert.` prefix — accept both. */
  private def t(name: String): SafeTensors.Tensor =
    tensors.getOrElse(name, tensors.getOrElse(s"bert.$name",
      throw new IllegalArgumentException(s"checkpoint is missing tensor '$name'")))

  private def mat(name: String): Array[Array[Double]] = {
    val x = t(name)
    require(x.shape.length == 2, s"tensor '$name' is not a matrix")
    Array.tabulate(x.rows, x.cols)((i, j) => x.data(i * x.cols + j).toDouble)
  }
  private def vec(name: String): Array[Double] = {
    val x = t(name)
    require(x.shape.length == 1, s"tensor '$name' is not a vector")
    x.data.map(_.toDouble)
  }

  val wordEmb: Array[Array[Double]] = mat("embeddings.word_embeddings.weight")
  val posEmb: Array[Array[Double]] = mat("embeddings.position_embeddings.weight")
  val typeEmb: Array[Array[Double]] = mat("embeddings.token_type_embeddings.weight")
  val embLnG: Array[Double] = vec("embeddings.LayerNorm.weight")
  val embLnB: Array[Double] = vec("embeddings.LayerNorm.bias")

  val hidden: Int = wordEmb.head.length
  val vocabSize: Int = wordEmb.length
  val maxPositions: Int = posEmb.length

  final case class Layer(
      wq: Array[Array[Double]], bq: Array[Double],
      wk: Array[Array[Double]], bk: Array[Double],
      wv: Array[Array[Double]], bv: Array[Double],
      wo: Array[Array[Double]], bo: Array[Double],
      attnLnG: Array[Double], attnLnB: Array[Double],
      w1: Array[Array[Double]], b1: Array[Double],
      w2: Array[Array[Double]], b2: Array[Double],
      outLnG: Array[Double], outLnB: Array[Double])

  val layers: Array[Layer] = {
    val n = Iterator.from(0)
      .takeWhile { i =>
        tensors.contains(s"encoder.layer.$i.attention.self.query.weight") ||
          tensors.contains(s"bert.encoder.layer.$i.attention.self.query.weight")
      }
      .size
    require(n > 0, "checkpoint has no encoder layers")
    Array.tabulate(n) { i =>
      val p = s"encoder.layer.$i"
      Layer(
        mat(s"$p.attention.self.query.weight"), vec(s"$p.attention.self.query.bias"),
        mat(s"$p.attention.self.key.weight"), vec(s"$p.attention.self.key.bias"),
        mat(s"$p.attention.self.value.weight"), vec(s"$p.attention.self.value.bias"),
        mat(s"$p.attention.output.dense.weight"), vec(s"$p.attention.output.dense.bias"),
        vec(s"$p.attention.output.LayerNorm.weight"), vec(s"$p.attention.output.LayerNorm.bias"),
        mat(s"$p.intermediate.dense.weight"), vec(s"$p.intermediate.dense.bias"),
        mat(s"$p.output.dense.weight"), vec(s"$p.output.dense.bias"),
        vec(s"$p.output.LayerNorm.weight"), vec(s"$p.output.LayerNorm.bias"))
    }
  }
}

final class BertModel(
    vocab: IndexedSeq[String],
    weights: BertWeights,
    heads: Int) extends EmbeddingModel {

  require(weights.hidden % heads == 0,
    s"hidden ${weights.hidden} not divisible by $heads heads")

  override def dim: Int = weights.hidden
  override val maxSeqLen: Int = math.min(512, weights.maxPositions)

  private val hidden = weights.hidden
  private val dh = hidden / heads

  private val pieceId: Map[String, Int] = vocab.zipWithIndex.toMap
  @transient private lazy val tokenizer = new WordPieceTokenizer(vocab.toSet)
  private val clsId = pieceId.getOrElse("[CLS]", 101)
  private val sepId = pieceId.getOrElse("[SEP]", 102)
  private val unkId = pieceId.getOrElse("[UNK]", 100)

  override def countTokens(text: String): Int =
    if (text == null) 0
    else tokenizer.tokenize(text, lowercase = true, removePunct = false).length

  private def layerNorm(x: Array[Double], g: Array[Double], b: Array[Double]): Array[Double] = {
    val n = x.length
    var mean = 0.0
    var i = 0
    while (i < n) { mean += x(i); i += 1 }
    mean /= n
    var v = 0.0
    i = 0
    while (i < n) { val d = x(i) - mean; v += d * d; i += 1 }
    val inv = 1.0 / math.sqrt(v / n + 1e-12)
    Array.tabulate(n)(j => (x(j) - mean) * inv * g(j) + b(j))
  }

  /** PyTorch Linear: `y_j = b_j + Σ_i W[j][i] · x_i` (W is `[out][in]`). */
  private def linear(x: Array[Double], w: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](w.length)
    var j = 0
    while (j < w.length) {
      val row = w(j)
      var acc = b(j)
      var i = 0
      while (i < x.length) { acc += row(i) * x(i); i += 1 }
      out(j) = acc
      j += 1
    }
    out
  }

  /** BERT's `hidden_act="gelu"`: the EXACT erf form (the ungated fixture
    * uses the tanh approximation; real checkpoints were trained on this
    * one — a 1e-3-scale difference that matters under fp-tolerance
    * parity). */
  private def gelu(x: Double): Double =
    0.5 * x * (1.0 + org.apache.commons.math3.special.Erf.erf(x / math.sqrt(2.0)))

  private def forward(ids: Array[Int]): Array[Array[Double]] = {
    val t = ids.length
    var x = Array.tabulate(t) { p =>
      layerNorm(
        Array.tabulate(hidden)(d =>
          weights.wordEmb(ids(p))(d) + weights.posEmb(p)(d) + weights.typeEmb(0)(d)),
        weights.embLnG, weights.embLnB)
    }
    for (lw <- weights.layers) {
      val q = x.map(linear(_, lw.wq, lw.bq))
      val k = x.map(linear(_, lw.wk, lw.bk))
      val v = x.map(linear(_, lw.wv, lw.bv))
      val ctx = Array.tabulate(t) { p =>
        val out = new Array[Double](hidden)
        var h = 0
        while (h < heads) {
          val off = h * dh
          val scores = new Array[Double](t)
          var s = 0
          while (s < t) {
            var dot = 0.0
            var d = 0
            while (d < dh) { dot += q(p)(off + d) * k(s)(off + d); d += 1 }
            scores(s) = dot / math.sqrt(dh.toDouble)
            s += 1
          }
          val mx = scores.max
          var z = 0.0
          s = 0
          while (s < t) { scores(s) = math.exp(scores(s) - mx); z += scores(s); s += 1 }
          s = 0
          while (s < t) {
            val w = scores(s) / z
            var d = 0
            while (d < dh) { out(off + d) += w * v(s)(off + d); d += 1 }
            s += 1
          }
          h += 1
        }
        out
      }
      val attnOut = ctx.map(linear(_, lw.wo, lw.bo))
      x = x.zip(attnOut).map { case (a, b) =>
        layerNorm(a.zip(b).map(p => p._1 + p._2), lw.attnLnG, lw.attnLnB)
      }
      val ffnOut = x.map { row =>
        linear(linear(row, lw.w1, lw.b1).map(gelu), lw.w2, lw.b2)
      }
      x = x.zip(ffnOut).map { case (a, b) =>
        layerNorm(a.zip(b).map(p => p._1 + p._2), lw.outLnG, lw.outLnB)
      }
    }
    x
  }

  override def encodeBatch(texts: Seq[String]): Seq[Array[Float]] = {
    // `[CLS] body [SEP]` framing (null stays null — the empty-row
    // contract); undecomposable words become [UNK] ids and STAY (real
    // BERT attends to [UNK]; only the oracle-fixture model drops them)
    val encoded = texts.map { t =>
      if (t == null) null
      else {
        val body = tokenizer
          .tokenize(t, lowercase = true, removePunct = false)
          .take(maxSeqLen - 2)
          .map(tok => pieceId.getOrElse(tok.token, unkId))
        (clsId +: body :+ sepId).toArray
      }
    }
    val states = encoded.map {
      case null => null
      case ids => forward(ids)
    }
    val seq = math.max(1, states.collect { case s if s != null => s.length }.maxOption.getOrElse(1))
    val batch = texts.length
    val hiddenFlat = new Array[Float](batch * seq * hidden)
    val mask = new Array[Long](batch * seq)
    states.zipWithIndex.foreach {
      case (null, _) => ()
      case (st, row) =>
        st.zipWithIndex.foreach { case (hrow, pos) =>
          mask(row * seq + pos) = 1L
          val off = (row * seq + pos) * hidden
          var d = 0
          while (d < hidden) { hiddenFlat(off + d) = hrow(d).toFloat; d += 1 }
        }
    }
    val pooled = Pooling.meanPoolNormalize(hiddenFlat, batch, seq, hidden, mask)
    states.zip(pooled).map { case (s, v) => if (s == null) Array.empty[Float] else v }
  }
}

object BertModel {

  /** Load from the gate's configuration (gate must be open). */
  def fromGate(): BertModel = {
    require(BertWeightsGate.available, BertWeightsGate.unavailableReason)
    load(BertWeightsGate.weightsPath.get, BertWeightsGate.vocabPath.get, BertWeightsGate.heads)
  }

  /** Load from explicit local files — `vocab.txt` line order = id order
    * (the HF/BERT distribution format). */
  def load(weightsPath: String, vocabPath: String, heads: Int): BertModel = {
    val src = scala.io.Source.fromFile(vocabPath, "UTF-8")
    val vocab = try src.getLines().map(_.trim).filter(_.nonEmpty).toIndexedSeq
    finally src.close()
    val w = new BertWeights(SafeTensors.load(weightsPath))
    require(vocab.length == w.vocabSize,
      s"vocab.txt has ${vocab.length} pieces but the checkpoint embeds ${w.vocabSize}")
    new BertModel(vocab, w, heads)
  }
}
