package graft.similarity

import graft.SparkSpec

class HybridSearchSpec extends SparkSpec {

  /** Deterministic test model: vector = (#a's, #b's, #c's) — cosine
    * favors docs whose letter histogram points the query's way. */
  private val ModelId = "test:hybrid-letters"
  private def registered: Unit = graft.embed.EmbedderRegistry.register(
    ModelId,
    new graft.embed.EmbeddingModel {
      override def dim: Int = 3
      override def countTokens(text: String): Int =
        if (text == null) 0 else text.split("\\s+").length
      override def encodeBatch(texts: Seq[String]): Seq[Array[Float]] =
        texts.map { t =>
          val s = if (t == null) "" else t
          Array('a', 'b', 'c').map(c => s.count(_ == c).toFloat)
        }
    })

  // query terms Seq("spark"), query text "cccc" → query vector (0,0,4):
  //   doc 1 lexical hit AND high-cosine ((1,0,3) — "spark" carries one 'a')
  //   doc 2 lexical hit, cosine 0 (ranked below the poolK=2 cut)
  //   doc 3 pure semantic hit (cos 1.0)
  //   doc 4 no term, cosine 0 — cut from both lists
  //   doc 5 zero vector (cosine null) and no term — in neither list
  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "spark ccc"),
      (2L, "spark"),
      (3L, "cc"),
      (4L, "bbb"),
      (5L, "zzz"))
      .toDF("doc_id", "text")
  }

  private def run(k: Int = 10, poolK: Int = 2) = {
    registered
    HybridSearch.rrf(docs, "text", "doc_id",
      Seq("spark"), "cccc", ModelId, k = k, poolK = poolK)
  }

  test("fuses both lists; single-list docs carry a null rank on the other side") {
    val rows = run().collect().map(r =>
      (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getDouble(3)))
    val byId = rows.map(r => r._1 -> r).toMap
    // doc 1 is in both lists (lex r2 — bm25 favors the shorter doc 2 —
    // and sem r2 behind doc 3's perfect cosine) → two reciprocal parts
    val (_, l1, s1, f1) = byId(1L)
    assert(l1.contains(2L) && s1.contains(2L), s"got $rows")
    assert(math.abs(f1 - (1.0 / 62 + 1.0 / 62)) < 1e-6)
    // doc 2 lexical-only (rank 1), doc 3 semantic-only (rank 1)
    assert(byId(2L)._2.contains(1L) && byId(2L)._3.isEmpty)
    assert(byId(3L)._2.isEmpty && byId(3L)._3.contains(1L))
    // docs 4 (cut by poolK) and 5 (zero vector, no term) appear nowhere
    assert(!byId.contains(4L) && !byId.contains(5L))
    // output is fused-score descending with id tie-break
    val order = rows.map(r => (-r._4, r._1))
    assert(order.sorted.toSeq == order.toSeq)
    // the dual-list doc outranks both rank-1 single-list docs
    assert(rows.head._1 == 1L)
  }

  test("k bounds the fused output") {
    assert(run(k = 2).collect().length == 2)
  }

  test("poolK bounds each list before fusion") {
    // poolK=1: only each list's best survives — doc 2 (lex), doc 3 (sem)
    val ids = run(poolK = 1).collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L, 3L), s"got $ids")
  }

  test("deterministic across runs") {
    val a = run().collect().toSeq
    val b = run().collect().toSeq
    assert(a == b)
  }

  // ------------------------------------------------- served batch path

  /** dim-4 letter-histogram model so the IVFPQ index can use m=2. */
  private val BatchModelId = "test:hybrid-letters4"
  private def batchRegistered: Unit = graft.embed.EmbedderRegistry.register(
    BatchModelId,
    new graft.embed.EmbeddingModel {
      override def dim: Int = 4
      override def countTokens(text: String): Int =
        if (text == null) 0 else text.split("\\s+").length
      override def encodeBatch(texts: Seq[String]): Seq[Array[Float]] =
        texts.map { t =>
          val s = if (t == null) "" else t
          Array('a', 'b', 'c', 'd').map(ch => s.count(_ == ch).toFloat)
        }
    })

  /** A corpus whose texts mix BM25 terms with letter payloads, plus the
    * two persisted indexes the served stack reads. */
  private def servedFixture(): (String, String) = {
    import spark.implicits._
    batchRegistered
    val corpus = (1L to 24L).map { i =>
      val terms = Seq("spark", "join", "window", "scan", "filter", "sort")
        .zipWithIndex.collect { case (t, j) if i % (j + 2) == 0 => t }
      val letters = Seq("a" * (i % 5).toInt, "b" * (i % 3).toInt,
        "c" * (i % 7).toInt, "d" * (i % 4).toInt)
      (i, (terms ++ letters).filter(_.nonEmpty).mkString(" "))
    }.toDF("doc_id", "text")
    val bm25Dir = graft.util.Scratch.dir("hybrid-bm25").toString
    Bm25IndexStore.writeBm25Index(corpus, bm25Dir, "text", "doc_id", nBuckets = 8)
    val annDir = graft.util.Scratch.dir("hybrid-ann").toString
    val vecs = graft.embed.Embedders
      .embed(corpus, "text", "embedding", BatchModelId)
      .select($"doc_id".as("vec_id"), $"embedding")
    IndexStore.writeIvfPqIndex(vecs, annDir, nCells = 2, m = 2, kCent = 4, seed = 7L)
    (bm25Dir, annDir)
  }

  private def batchQueries = {
    import spark.implicits._
    // query ids 1/2/3/4 COLLIDE with corpus doc ids on purpose: the
    // negative-id remap must keep the ANN self-exclusion inert exactly
    // like rrfServed's fixed −1. Query 4 is the NO-HIT edge: every
    // term misses the index (df=0), so its lexical list is empty and
    // fusion must serve the semantic side alone — per-call and batch
    // alike
    Seq(
      (1L, Seq("spark", "join", "window"), "aa bcd"),
      (2L, Seq("scan", "filter"), "dddd"),
      (3L, Seq("sort", "spark"), "abc abc"),
      (4L, Seq("zzz_not_a_token", "qqq_nope"), "bb cc")
    ).toDF("query_id", "terms", "text")
  }

  test("served batch reproduces per-call rrfServed rows exactly per query") {
    val (bm25Dir, annDir) = servedFixture()
    val batch = HybridSearch.rrfServedBatch(
        batchQueries, bm25Dir, annDir, BatchModelId,
        k = 8, poolK = 5, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)),
        r.getDouble(4)))
      .groupBy(_._1)
    val qs = batchQueries.collect()
    assert(batch.keySet == Set(1L, 2L, 3L, 4L))
    // the no-hit query serves semantic-only: r_lex null on every row
    assert(batch(4L).nonEmpty && batch(4L).forall(_._3.isEmpty))
    qs.foreach { q =>
      val qid = q.getLong(0)
      val perCall = HybridSearch.rrfServed(
          spark, bm25Dir, annDir,
          q.getSeq[String](1), q.getString(2), BatchModelId,
          k = 8, poolK = 5, nProbe = 2)
        .collect()
        .map(r => (qid, r.getLong(0), Option(r.get(1)), Option(r.get(2)),
          r.getDouble(3)))
        .toSet
      assert(batch(qid).toSet == perCall,
        s"query $qid: batch ${batch(qid).toSet} != per-call $perCall")
      assert(perCall.nonEmpty)
    }
  }

  test("served batch with bm25PruneDf engaged is bitwise the default serve") {
    val (bm25Dir, annDir) = servedFixture()
    def rows(pruneDf: Long) = HybridSearch.rrfServedBatch(
        batchQueries, bm25Dir, annDir, BatchModelId,
        k = 8, poolK = 5, nProbe = 2, bm25PruneDf = pruneDf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)),
        r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    // pruneDf = 1: EVERY matching term is stopword-class, so the lexical
    // serve routes every query through the MaxScore front end (all-hot
    // queries take the proof's fallback) — the fused rows must not move
    assert(rows(1L) == rows(Long.MaxValue))
  }

  test("served batch plan reads each index a constant number of times") {
    import spark.implicits._
    val (bm25Dir, annDir) = servedFixture()
    def planOf(qs: org.apache.spark.sql.DataFrame) =
      HybridSearch.rrfServedBatch(qs, bm25Dir, annDir, BatchModelId,
          k = 8, poolK = 5, nProbe = 2)
        .queryExecution.executedPlan
    def scans(plan: org.apache.spark.sql.execution.SparkPlan, artifact: String): Int =
      graft.ScanPaths.count(plan, artifact)
    val one = planOf(batchQueries.limit(1))
    val three = planOf(batchQueries)
    // ONE lexical plan + ONE semantic plan total, however many queries:
    // postings and codes scan counts must not grow with the batch
    assert(scans(one, "postings") == scans(three, "postings"),
      s"postings scans grew: ${scans(one, "postings")} -> ${scans(three, "postings")}")
    assert(scans(one, "ivf_codes") == scans(three, "ivf_codes"),
      s"ivf_codes scans grew: ${scans(one, "ivf_codes")} -> ${scans(three, "ivf_codes")}")
    assert(scans(three, "ivf_codes") == 1, three)
  }
}
