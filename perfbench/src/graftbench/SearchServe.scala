package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.embed.{Embedders, EmbedderRegistry}
import graft.similarity.{Bm25, Bm25IndexStore, HybridSearch, IndexStore, Similarity}

/** `search_serve`: serving from persisted BM25 and IVF-PQ indexes, beside
  * the write path of a second pair of stores. Setup builds both indexes
  * over a seeded Zipf corpus, and the [[IndexIngest]] stores and stream
  * queries. A cycle of the loop is one block of 14 read requests in
  * seeded order — nine per-call BM25 serves, one ANN serve, two hybrid
  * serves, and one batched BM25 and one batched hybrid serve of four
  * queries each — then one [[IndexIngest]] round (append, probe,
  * serve, delete, stream micro-batch, compact). The reads go to their own
  * stores, which the writes never touch. A fixed share of the queries
  * carries a stopword-class term, so the MaxScore routing both engages and
  * is bypassed: one of the nine BM25 calls (kind `bm25_hot`), one of the
  * two hybrid calls and one of the four batched queries. `op_p50_ms` is
  * the median of the plain per-call BM25 serves, the most frequent
  * request; `items_per_s` is read queries per second of the whole cycle,
  * writes included. The other kinds' medians are on the info line. */
final class SearchServe extends Workload {
  val name = "search_serve"
  val CorpusDocs = 600
  val QueryPool = 240
  val Batch = 4
  val K = 10
  val PoolK = 20
  val Model = EmbedderRegistry.DefaultModelId
  /** One block; the order inside a block is seeded. */
  val Block = Seq.fill(8)("bm25") ++ Seq("bm25_hot", "ann", "hybrid", "hybrid_hot", "bm25_batch", "hybrid_batch")
  val HotInBatch = 1
  val CheckEvery = 3

  private var docs: Array[Gen.Doc] = _
  private var queries: Array[Seq[String]] = _
  private var hot, plain: IndexedSeq[Int] = _
  private var schedule: IndexedSeq[String] = _
  private var bm25Dir, annDir: String = _
  private var corpus: DataFrame = _

  private sealed trait Kept
  private final case class One(kind: String, q: Int, rows: Seq[Row]) extends Kept
  private final case class Many(kind: String, qs: Seq[Int], rows: Seq[Row]) extends Kept
  private val kept = ArrayBuffer.empty[Kept]
  private val ingest = new IndexIngest

  private def ensureInputs(ctx: Ctx): Unit = if (docs == null) Main.phase("generate") {
    docs = ctx.gen.docs(CorpusDocs)
    queries = ctx.gen.queries(QueryPool)
    val (h, p) = queries.indices.partition(q => queries(q).exists(ctx.gen.hotTerms.contains))
    hot = h; plain = p
    schedule = (0 until 400).flatMap(_ => ctx.gen.shuffle(Block)).toIndexedSeq
  }

  def setup(ctx: Ctx, dir: String): Unit = {
    ensureInputs(ctx)
    import ctx.spark.implicits._
    corpus = docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
    bm25Dir = s"$dir/bm25"; annDir = s"$dir/ann"
    Bm25IndexStore.writeBm25Index(corpus, bm25Dir)
    val emb = Embedders.embed(corpus.select(col("doc_id").as("vec_id"), col("text")), "text", "embedding", Model)
    IndexStore.writeIvfPqIndex(emb, annDir)
    ingest.setup(ctx, s"$dir/ingest")
  }

  private def text(q: Int) = queries(q).mkString(" ")
  private def qvec(ctx: Ctx, q: Int): DataFrame = {
    import ctx.spark.implicits._
    val v = ctx.span("embed", "embed.query")(EmbedderRegistry.ensure(Model).encodeBatch(Seq(text(q))).head)
    Seq((-1L, v.toSeq)).toDF("vec_id", "embedding")
  }
  private def batchFrame(ctx: Ctx, qs: Seq[Int]): DataFrame = {
    import ctx.spark.implicits._
    qs.map(q => (q.toLong, queries(q), text(q))).toDF("query_id", "terms", "text")
  }

  private def bm25(ctx: Ctx, q: Int) = ctx.span("bm25", "bm25.serve") {
    Bm25IndexStore.serveBm25TopK(ctx.spark, bm25Dir, queries(q), k = K, roundTo = 6)
      .select("doc_id", "score").orderBy(col("score").desc, col("doc_id")).collect().toSeq
  }
  private def ann(ctx: Ctx, q: Int, k: Int) = {
    val qv = qvec(ctx, q)
    ctx.span("ann", "ann.serve") {
      IndexStore.serveIvfPqTopK(qv, annDir, k = k).orderBy("rank").select("neighbor_id", "rank").collect().toSeq
    }
  }
  private def hybrid(ctx: Ctx, q: Int) = ctx.span("hybrid", "hybrid.serve") {
    HybridSearch.rrfServed(ctx.spark, bm25Dir, annDir, queries(q), text(q), Model, k = K, poolK = PoolK)
      .select("doc_id", "rrf").collect().toSeq
  }

  /** The ingest round first, so the reads the loop starts with are warm. */
  def warmup(ctx: Ctx): Unit = {
    ingest.warmup(ctx)
    bm25(ctx, hot(0)); ann(ctx, plain(0), K); hybrid(ctx, plain(0))
    val qs = hot.take(HotInBatch) ++ plain.take(Batch - HotInBatch)
    runBatch(ctx, "bm25_batch", qs); runBatch(ctx, "hybrid_batch", qs)
  }

  private def runBatch(ctx: Ctx, kind: String, qs: Seq[Int]): Seq[Row] = {
    val qf = batchFrame(ctx, qs)
    if (kind == "bm25_batch") ctx.span("bm25", "bm25.batch") {
      Bm25IndexStore.serveBm25TopKBatch(qf.select("query_id", "terms"), bm25Dir, k = K, roundTo = 6)
        .select("query_id", "doc_id", "score").collect().toSeq
    } else ctx.span("hybrid", "hybrid.batch") {
      HybridSearch.rrfServedBatch(qf, bm25Dir, annDir, Model, k = K, poolK = PoolK)
        .select("query_id", "doc_id", "rrf").collect().toSeq
    }
  }

  override def cycle: Int = Block.size + ingest.cycle
  override def opSeconds: Double = 0.4
  override def primaryKind: String = "bm25"
  override def mix: Map[String, Int] = Block.groupBy(identity).map { case (k, v) => k -> v.size } ++ ingest.mix

  /** Op `i`: the reads of a cycle, then its ingest round (no read items). */
  def op(ctx: Ctx, i: Int): OpRec = {
    val (c, j) = (i / cycle, i % cycle)
    if (j < Block.size) read(ctx, c * Block.size + j)
    else ingest.op(ctx, c * ingest.cycle + j - Block.size).copy(items = 0)
  }

  override def finish(ctx: Ctx): Unit = ingest.finish(ctx)

  private def read(ctx: Ctx, i: Int): OpRec = {
    def pick(pool: IndexedSeq[Int], j: Int) = pool((i * 7 + j * 13) % pool.size)
    val keep = i % CheckEvery == 0
    schedule(i % schedule.size) match {
      case kind @ ("bm25_batch" | "hybrid_batch") =>
        val qs = (0 until Batch).map(j => if (j < HotInBatch) pick(hot, j) else pick(plain, j))
        var rows: Seq[Row] = Nil
        val r = ctx.timedOp(kind, Batch) { rows = runBatch(ctx, kind, qs) }
        if (keep) kept += Many(kind, qs, rows)
        r
      case kind =>
        val q = pick(if (kind.endsWith("_hot")) hot else plain, 0)
        var rows: Seq[Row] = Nil
        val r = ctx.timedOp(kind, 1) {
          rows = kind match {
            case "bm25" | "bm25_hot" => bm25(ctx, q)
            case "ann" => ann(ctx, q, K)
            case _ => hybrid(ctx, q)
          }
        }
        if (keep) kept += One(kind.stripSuffix("_hot"), q, rows)
        r
    }
  }

  // ---- checks: each against a computation that does not use the store ----

  private def inSessionBm25(ctx: Ctx, q: Int): Seq[(Long, Double)] =
    Bm25.search(corpus, "text", "doc_id", queries(q), k = K, roundTo = 6)
      .select("doc_id", "score").orderBy(col("score").desc, col("doc_id")).collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  private lazy val embedded: DataFrame =
    Embedders.embed(corpus.select(col("doc_id").as("vec_id"), col("text")), "text", "embedding", Model).localCheckpoint()

  /** One batched ANN serve and one exact cosine top-k over the same query
    * vectors (query q enters as id -1-q): served ids per query, and the
    * exact ids per query. */
  private def annReference(ctx: Ctx, qs: Seq[Int]): (Map[Int, Seq[Long]], Map[Int, Set[Long]]) = {
    import ctx.spark.implicits._
    val model = EmbedderRegistry.ensure(Model)
    val qv = qs.map(q => (-1L - q, model.encodeBatch(Seq(text(q))).head.toSeq)).toDF("vec_id", "embedding")
    val served = IndexStore.serveIvfPqTopK(qv, annDir, k = K).select("query_id", "neighbor_id", "rank").collect()
      .groupBy(r => (-1L - r.getLong(0)).toInt).map { case (q, rs) => q -> rs.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq }
    val exact = Similarity.bruteForceTopK(qv, embedded, k = K).select("query_id", "neighbor_id").collect()
      .groupBy(r => (-1L - r.getLong(0)).toInt).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    (served, exact)
  }

  /** RRF fused here from the two served legs. */
  private def fused(ctx: Ctx, q: Int): Seq[(Long, Double)] = {
    val lex = Bm25IndexStore.serveBm25TopK(ctx.spark, bm25Dir, queries(q), k = PoolK, roundTo = 6)
      .select("doc_id", "score").orderBy(col("score").desc, col("doc_id")).collect().map(_.getLong(0)).toSeq
    val sem = ann(ctx, q, PoolK).map(_.getLong(0))
    Checks.rrf(lex, sem, K, 60, 6)
  }

  /** Mean recall@K of the served ANN over [[RecallQueries]] plain queries
    * must reach this; ids drawn at random score about K / CorpusDocs. */
  val RecallFloor = 0.1
  val RecallQueries = 12

  def check(ctx: Ctx): (Int, Seq[String]) = {
    val bad = ArrayBuffer.empty[String]
    val annQs = kept.collect { case One("ann", q, _) => q }
    val (served, exact) = annReference(ctx, (plain.take(RecallQueries) ++ annQs).distinct)
    val recall = plain.take(RecallQueries).map(q => (served.getOrElse(q, Nil).toSet intersect exact.getOrElse(q, Set.empty)).size.toDouble / K)
    val meanRecall = recall.sum / recall.size
    ctx.info("ann_recall_at_10") = meanRecall
    if (meanRecall < RecallFloor) bad += f"ann recall@$K $meanRecall%.3f below floor $RecallFloor over ${recall.size} queries"
    kept.foreach {
      case One("bm25", q, rows) =>
        Checks.sameScored(s"bm25 q=$q", rows.map(r => (r.getLong(0), r.getDouble(1))), inSessionBm25(ctx, q)).foreach(bad += _)
      case One("ann", q, rows) =>
        val got = rows.map(_.getLong(0))
        if (got.size != K || got != served.getOrElse(q, Nil)) bad += s"ann q=$q: per-call ${got.take(3)}... differs from the batched serve"
      case One("hybrid", q, rows) =>
        Checks.sameScored(s"hybrid q=$q", rows.map(r => (r.getLong(0), r.getDouble(1))), fused(ctx, q)).foreach(bad += _)
      case Many("bm25_batch", qs, rows) =>
        val byQ = rows.groupBy(_.getLong(0))
        qs.iterator.flatMap { q =>
          val got = byQ.getOrElse(q.toLong, Nil).map(r => (r.getLong(1), r.getDouble(2))).sortBy(p => (-p._2, p._1))
          Checks.sameScored(s"bm25_batch q=$q", got, inSessionBm25(ctx, q))
        }.nextOption().foreach(bad += _)
      case Many("hybrid_batch", qs, rows) =>
        val byQ = rows.groupBy(_.getLong(0))
        qs.take(2).iterator.flatMap { q =>
          val got = byQ.getOrElse(q.toLong, Nil).map(r => (r.getLong(1), r.getDouble(2))).sortBy(p => (-p._2, p._1))
          Checks.sameScored(s"hybrid_batch q=$q", got, fused(ctx, q))
        }.nextOption().foreach(bad += _)
      case other => bad += s"unexpected kept result $other"
    }
    val (ingestChecked, ingestBad) = ingest.check(ctx)
    (kept.size + ingestChecked, bad.toSeq ++ ingestBad)
  }
}
