package graft.embed

import org.scalatest.funsuite.AnyFunSuite

/** The gated real-weights BERT path, verified WITHOUT any real
  * artifact: safetensors round-trip, an analytic known-answer (blocks
  * zeroed so the output is hand-computable), and an independently
  * written textbook BERT forward as the numeric reference for random
  * weights. The real-checkpoint assertions gate on
  * [[BertWeightsGate.available]] and cancel otherwise — the repo's
  * established skip-don't-fake posture. */
class BertModelSpec extends AnyFunSuite {

  private def tensor(shape: Array[Int], data: Array[Float]) = SafeTensors.Tensor(shape, data)

  // ------------------------------------------------------------ fixtures

  /** Deterministic tensor values in [-0.1, 0.1], keyed by name. */
  private def seeded(name: String, shape: Int*): SafeTensors.Tensor = {
    val n = shape.product
    val rnd = new java.util.Random(name.##.toLong * 0x9e3779b97f4a7c15L)
    tensor(shape.toArray, Array.fill(n)((rnd.nextDouble() * 0.2 - 0.1).toFloat))
  }

  private def zeros(shape: Int*): SafeTensors.Tensor =
    tensor(shape.toArray, new Array[Float](shape.product))
  private def ones(shape: Int*): SafeTensors.Tensor =
    tensor(shape.toArray, Array.fill(shape.product)(1.0f))

  private val FixtureVocab = IndexedSeq("[PAD]", "[UNK]", "[CLS]", "[SEP]", "cat", "dog", "fish")

  /** A full BERT checkpoint tensor map at (V=7, H=4, layers, FFN=8),
    * every learnable tensor seeded unless overridden. */
  private def checkpoint(
      layers: Int,
      hidden: Int = 4,
      ffn: Int = 8,
      override_ : Map[String, SafeTensors.Tensor] = Map.empty): Map[String, SafeTensors.Tensor] = {
    val base = Map.newBuilder[String, SafeTensors.Tensor]
    base += "embeddings.word_embeddings.weight" -> seeded("we", FixtureVocab.length, hidden)
    base += "embeddings.position_embeddings.weight" -> seeded("pe", 16, hidden)
    base += "embeddings.token_type_embeddings.weight" -> seeded("te", 2, hidden)
    base += "embeddings.LayerNorm.weight" -> ones(hidden)
    base += "embeddings.LayerNorm.bias" -> zeros(hidden)
    (0 until layers).foreach { i =>
      val p = s"encoder.layer.$i"
      base += s"$p.attention.self.query.weight" -> seeded(s"$i.q", hidden, hidden)
      base += s"$p.attention.self.query.bias" -> seeded(s"$i.qb", hidden)
      base += s"$p.attention.self.key.weight" -> seeded(s"$i.k", hidden, hidden)
      base += s"$p.attention.self.key.bias" -> seeded(s"$i.kb", hidden)
      base += s"$p.attention.self.value.weight" -> seeded(s"$i.v", hidden, hidden)
      base += s"$p.attention.self.value.bias" -> seeded(s"$i.vb", hidden)
      base += s"$p.attention.output.dense.weight" -> seeded(s"$i.o", hidden, hidden)
      base += s"$p.attention.output.dense.bias" -> seeded(s"$i.ob", hidden)
      base += s"$p.attention.output.LayerNorm.weight" -> ones(hidden)
      base += s"$p.attention.output.LayerNorm.bias" -> zeros(hidden)
      base += s"$p.intermediate.dense.weight" -> seeded(s"$i.w1", ffn, hidden)
      base += s"$p.intermediate.dense.bias" -> seeded(s"$i.b1", ffn)
      base += s"$p.output.dense.weight" -> seeded(s"$i.w2", hidden, ffn)
      base += s"$p.output.dense.bias" -> seeded(s"$i.b2", hidden)
      base += s"$p.output.LayerNorm.weight" -> ones(hidden)
      base += s"$p.output.LayerNorm.bias" -> zeros(hidden)
    }
    base.result() ++ override_
  }

  private def modelOf(tensors: Map[String, SafeTensors.Tensor], heads: Int): BertModel = {
    val dir = graft.util.Scratch.dir("bert")
    val wPath = dir.resolve("model.safetensors").toString
    val vPath = dir.resolve("vocab.txt").toString
    SafeTensors.write(wPath, tensors.toSeq.sortBy(_._1))
    java.nio.file.Files.write(dir.resolve("vocab.txt"),
      FixtureVocab.mkString("\n").getBytes("UTF-8"))
    BertModel.load(wPath, vPath, heads)
  }

  // ------------------------------------------------------------- tests

  test("safetensors round-trips shapes and F32 payloads exactly") {
    val dir = graft.util.Scratch.dir("st")
    val p = dir.resolve("t.safetensors").toString
    val a = tensor(Array(2, 3), Array(1.5f, -2.25f, 0f, 3.75f, Float.MinPositiveValue, -0f))
    val b = tensor(Array(4), Array(9f, 8f, 7f, 6f))
    SafeTensors.write(p, Seq("alpha" -> a, "beta" -> b))
    val back = SafeTensors.load(p)
    assert(back.keySet == Set("alpha", "beta"))
    assert(back("alpha").shape.toSeq == Seq(2, 3))
    assert(back("alpha").data.toSeq == a.data.toSeq)
    assert(back("beta").data.toSeq == b.data.toSeq)
    // truncated file fails with a clear message, not a buffer error
    java.nio.file.Files.write(dir.resolve("bad.safetensors"), Array[Byte](1, 2, 3))
    val e = intercept[IllegalArgumentException] {
      SafeTensors.load(dir.resolve("bad.safetensors").toString)
    }
    assert(e.getMessage.contains("truncated"))
  }

  test("analytic known-answer: zeroed attention/FFN outputs reduce to LN of embeddings") {
    // wo = 0, bo = 0, w2 = 0, b2 = 0 ⇒ every residual adds zero and the
    // per-layer LNs are idempotent on already-normalized rows (γ=1, β=0)
    // ⇒ final hidden = LN(word + pos + type), hand-computable.
    val hidden = 4
    val zeroed = checkpoint(layers = 2, override_ = (0 until 2).flatMap { i =>
      Seq(
        s"encoder.layer.$i.attention.output.dense.weight" -> zeros(hidden, hidden),
        s"encoder.layer.$i.attention.output.dense.bias" -> zeros(hidden),
        s"encoder.layer.$i.output.dense.weight" -> zeros(hidden, 8),
        s"encoder.layer.$i.output.dense.bias" -> zeros(hidden))
    }.toMap)
    val m = modelOf(zeroed, heads = 2)

    val we = zeroed("embeddings.word_embeddings.weight")
    val pe = zeroed("embeddings.position_embeddings.weight")
    val te = zeroed("embeddings.token_type_embeddings.weight")
    def ln(x: Array[Double]): Array[Double] = {
      val mean = x.sum / x.length
      val v = x.map(d => (d - mean) * (d - mean)).sum / x.length
      x.map(d => (d - mean) / math.sqrt(v + 1e-12))
    }
    // frame for "cat" = [CLS](2) cat(4) [SEP](3)
    val frames = Seq(2, 4, 3).zipWithIndex.map { case (id, pos) =>
      ln(Array.tabulate(hidden)(d =>
        we.data(id * hidden + d).toDouble + pe.data(pos * hidden + d).toDouble +
          te.data(d).toDouble))
    }
    val meanPooled = Array.tabulate(hidden)(d => frames.map(_(d)).sum / frames.length)
    val norm = math.sqrt(meanPooled.map(x => x * x).sum)
    val want = meanPooled.map(x => (x / norm).toFloat)

    val got = m.encodeBatch(Seq("cat")).head
    assert(got.length == hidden)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-6, s"got ${got.toSeq} want ${want.toSeq}")
    }
  }

  /** Independent textbook BERT forward (published equations, written
    * against the paper rather than the production code: explicit
    * per-head matrices, no shared helpers). */
  private def referenceForward(
      tensors: Map[String, SafeTensors.Tensor],
      ids: Seq[Int],
      hidden: Int,
      heads: Int,
      layers: Int,
      ffn: Int): Seq[Array[Double]] = {
    def T(n: String) = tensors(n)
    def matmulT(x: Array[Double], w: SafeTensors.Tensor, b: SafeTensors.Tensor): Array[Double] =
      Array.tabulate(w.rows) { j =>
        b.data(j).toDouble +
          (0 until w.cols).map(i => w.data(j * w.cols + i).toDouble * x(i)).sum
      }
    def lnorm(x: Array[Double], g: SafeTensors.Tensor, bb: SafeTensors.Tensor): Array[Double] = {
      val mean = x.sum / x.length
      val v = x.map(d => (d - mean) * (d - mean)).sum / x.length
      Array.tabulate(x.length)(j =>
        (x(j) - mean) / math.sqrt(v + 1e-12) * g.data(j) + bb.data(j))
    }
    val dh = hidden / heads
    var state: Seq[Array[Double]] = ids.zipWithIndex.map { case (id, pos) =>
      lnorm(
        Array.tabulate(hidden)(d =>
          T("embeddings.word_embeddings.weight").data(id * hidden + d).toDouble +
            T("embeddings.position_embeddings.weight").data(pos * hidden + d).toDouble +
            T("embeddings.token_type_embeddings.weight").data(d).toDouble),
        T("embeddings.LayerNorm.weight"), T("embeddings.LayerNorm.bias"))
    }
    (0 until layers).foreach { l =>
      val p = s"encoder.layer.$l"
      val q = state.map(matmulT(_, T(s"$p.attention.self.query.weight"), T(s"$p.attention.self.query.bias")))
      val k = state.map(matmulT(_, T(s"$p.attention.self.key.weight"), T(s"$p.attention.self.key.bias")))
      val v = state.map(matmulT(_, T(s"$p.attention.self.value.weight"), T(s"$p.attention.self.value.bias")))
      val mixed = state.indices.map { pPos =>
        val acc = new Array[Double](hidden)
        (0 until heads).foreach { h =>
          val raw = state.indices.map { s =>
            (0 until dh).map(d => q(pPos)(h * dh + d) * k(s)(h * dh + d)).sum /
              math.sqrt(dh.toDouble)
          }
          val mx = raw.max
          val ex = raw.map(r => math.exp(r - mx))
          val z = ex.sum
          state.indices.foreach { s =>
            (0 until dh).foreach(d => acc(h * dh + d) += ex(s) / z * v(s)(h * dh + d))
          }
        }
        acc
      }
      val attnOut = mixed.map(matmulT(_, T(s"$p.attention.output.dense.weight"), T(s"$p.attention.output.dense.bias")))
      state = state.zip(attnOut).map { case (a, b) =>
        lnorm(a.zip(b).map(t => t._1 + t._2),
          T(s"$p.attention.output.LayerNorm.weight"), T(s"$p.attention.output.LayerNorm.bias"))
      }
      def geluExact(x: Double) =
        0.5 * x * (1.0 + org.apache.commons.math3.special.Erf.erf(x / math.sqrt(2.0)))
      val inter = state.map(r =>
        matmulT(r, T(s"$p.intermediate.dense.weight"), T(s"$p.intermediate.dense.bias")).map(geluExact))
      val out = inter.map(matmulT(_, T(s"$p.output.dense.weight"), T(s"$p.output.dense.bias")))
      state = state.zip(out).map { case (a, b) =>
        lnorm(a.zip(b).map(t => t._1 + t._2),
          T(s"$p.output.LayerNorm.weight"), T(s"$p.output.LayerNorm.bias"))
      }
    }
    state
  }

  test("MiniLM-L6-proportioned checkpoint runs the full safetensors path ungated") {
    // the real-artifact geometry (hidden=384, heads=12, ffn=1536, 6
    // layers — ~43 MB of F32 at the fixture vocab) through write →
    // header parse → tensor mapping → encoder wiring, with the zeroed-
    // blocks analytic answer making the output EXACTLY checkable at
    // full width without a slow textbook forward: wo=0/w2=0 ⇒ every
    // residual adds zero and γ=1/β=0 LNs are idempotent ⇒ final hidden
    // = LN(word+pos+type)
    val hidden = 384
    val ffn = 1536
    val layers = 6
    val zeroed = checkpoint(layers = layers, hidden = hidden, ffn = ffn,
      override_ = (0 until layers).flatMap { i =>
        Seq(
          s"encoder.layer.$i.attention.output.dense.weight" -> zeros(hidden, hidden),
          s"encoder.layer.$i.attention.output.dense.bias" -> zeros(hidden),
          s"encoder.layer.$i.output.dense.weight" -> zeros(hidden, ffn),
          s"encoder.layer.$i.output.dense.bias" -> zeros(hidden))
      }.toMap)
    val m = modelOf(zeroed, heads = 12)
    assert(m.dim == hidden)

    val we = zeroed("embeddings.word_embeddings.weight")
    val pe = zeroed("embeddings.position_embeddings.weight")
    val te = zeroed("embeddings.token_type_embeddings.weight")
    def ln(x: Array[Double]): Array[Double] = {
      val mean = x.sum / x.length
      val v = x.map(d => (d - mean) * (d - mean)).sum / x.length
      x.map(d => (d - mean) / math.sqrt(v + 1e-12))
    }
    val frames = Seq(2, 4, 3).zipWithIndex.map { case (id, pos) =>
      ln(Array.tabulate(hidden)(d =>
        we.data(id * hidden + d).toDouble + pe.data(pos * hidden + d).toDouble +
          te.data(d).toDouble))
    }
    val meanPooled = Array.tabulate(hidden)(d => frames.map(_(d)).sum / frames.length)
    val norm = math.sqrt(meanPooled.map(x => x * x).sum)
    val want = meanPooled.map(x => (x / norm).toFloat)

    val got = m.encodeBatch(Seq("cat")).head
    assert(got.length == hidden)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-5) }
    // batch-invariance at full width: alone == inside a batch, bitwise
    val inBatch = m.encodeBatch(Seq("dog fish", "cat", "fish")).apply(1)
    assert(inBatch.toSeq == got.toSeq)
  }

  test("random-weights forward matches the independent textbook implementation") {
    val tensors = checkpoint(layers = 2)
    val m = modelOf(tensors, heads = 2)
    // "cat dog fish" → frame [CLS] cat dog fish [SEP] = ids 2,4,5,6,3
    val ids = Seq(2, 4, 5, 6, 3)
    val want = referenceForward(tensors, ids, hidden = 4, heads = 2, layers = 2, ffn = 8)
    val meanPooled = Array.tabulate(4)(d => want.map(_(d)).sum / want.length)
    val norm = math.sqrt(meanPooled.map(x => x * x).sum)
    val expect = meanPooled.map(_ / norm)
    val got = m.encodeBatch(Seq("cat dog fish")).head
    got.zip(expect).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-6, s"got ${got.toSeq} want ${expect.toSeq}")
    }
  }

  test("batch independence, null and OOV contracts") {
    val m = modelOf(checkpoint(layers = 1), heads = 2)
    val alone = m.encodeBatch(Seq("cat dog")).head
    val inBatch = m.encodeBatch(Seq("fish", "cat dog", null, "dog fish cat")).apply(1)
    assert(alone.toSeq == inBatch.toSeq, "a text must embed identically in any batch")
    assert(m.encodeBatch(Seq[String](null)).head.isEmpty, "null → empty row")
    // an all-OOV text still embeds: [UNK] ids stay in the frame
    val oov = m.encodeBatch(Seq("zzzz qqqq")).head
    assert(oov.length == 4 && math.abs(oov.map(x => x.toDouble * x).sum - 1.0) < 1e-6)
  }

  test("registry serves the gated id via sys-props and fails fast without them") {
    val e = intercept[Exception] { EmbedderRegistry.ensure(BertWeightsGate.ModelId) }
    assert(e.getMessage.contains("GRAFT_BERT"))
    val dir = graft.util.Scratch.dir("bert-gate")
    SafeTensors.write(dir.resolve("model.safetensors").toString,
      checkpoint(layers = 1).toSeq.sortBy(_._1))
    java.nio.file.Files.write(dir.resolve("vocab.txt"),
      FixtureVocab.mkString("\n").getBytes("UTF-8"))
    System.setProperty(BertWeightsGate.WeightsPathProp, dir.resolve("model.safetensors").toString)
    System.setProperty(BertWeightsGate.VocabPathProp, dir.resolve("vocab.txt").toString)
    System.setProperty(BertWeightsGate.HeadsProp, "2")
    try {
      val m = EmbedderRegistry.ensure(BertWeightsGate.ModelId)
      assert(m.dim == 4)
      assert(m.encodeBatch(Seq("cat")).head.length == 4)
    } finally {
      System.clearProperty(BertWeightsGate.WeightsPathProp)
      System.clearProperty(BertWeightsGate.VocabPathProp)
      System.clearProperty(BertWeightsGate.HeadsProp)
    }
  }

  test("REAL checkpoint: dim/norm/semantic sanity (env-gated)") {
    // cancels unless a real MiniLM-class checkpoint is configured via
    // the env vars — the zero-egress skip-don't-fake posture
    assume(sys.env.contains(BertWeightsGate.WeightsPathEnv) &&
      sys.env.contains(BertWeightsGate.VocabPathEnv),
      s"no local checkpoint (${BertWeightsGate.unavailableReason})")
    val m = BertModel.fromGate()
    val Seq(cat, kitten, econ) = m.encodeBatch(Seq("a small cat", "a young kitten", "macroeconomic policy"))
    def cos(a: Array[Float], b: Array[Float]) = a.zip(b).map(p => p._1.toDouble * p._2).sum
    assert(cos(cat, kitten) > cos(cat, econ), "real weights must order semantic similarity")
    assert(math.abs(cat.map(x => x.toDouble * x).sum - 1.0) < 1e-4)
  }
}
