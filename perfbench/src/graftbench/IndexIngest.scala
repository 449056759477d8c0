package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DedupIndexStore}
import graft.similarity.{Bm25, Bm25IndexStore}

/** `index_ingest`: the write path. New documents arrive in rounds; each
  * round is a strictly sequential single-writer loop of ops on the same
  * dedup and BM25 stores, plus the stream queries:
  *  - `append`: the round's delta to both stores, with a stable `batchId`;
  *  - `probe`: the dedup store with a delta holding a fixed share of
  *    near-copies of live documents;
  *  - `serve`: one BM25 query from the fragmented store;
  *  - `delete`: a seeded id set from both stores;
  *  - `stream`: the delta's ASCII documents and their events as one
  *    micro-batch through [[StreamQueries]];
  *  - `compact`: both stores, every [[CompactEvery]]th round.
  * [[SearchServe]] runs one round after each block of reads, so the gated
  * `search_serve` measures this path. Run alone (`--workload index_ingest`,
  * not in BENCHMARK.json), `op_p50_ms` is the probe's median and
  * `items_per_s` is appended documents per second of round time. */
final class IndexIngest extends Workload {
  val name = "index_ingest"
  val BaseDocs = 200
  val Delta = 100
  val Probe = 40
  val ProbeCopyShare = 0.25
  val Deletes = 5
  val CompactEvery = 1
  val Rounds = 64
  val CheckEvery = 1
  val Steps = Seq("append", "probe", "serve", "delete", "stream")

  override def cycle: Int = CompactEvery * Steps.size + 1
  override def opSeconds: Double = 1.2
  override def primaryKind: String = "probe"
  override def mix: Map[String, Int] = Steps.map(_ -> CompactEvery).toMap + ("compact" -> 1)

  private var base: Array[Gen.Doc] = _
  private var deltas: IndexedSeq[Array[Gen.Doc]] = _
  private var fresh: IndexedSeq[Array[Gen.Doc]] = _
  private var events: IndexedSeq[Array[(Int, Int, Double)]] = _
  private var picks, noise: Array[Int] = _
  private var dedupDir, bm25Dir: String = _
  private var streams: StreamQueries = _
  private val text = scala.collection.mutable.HashMap.empty[Long, String]
  private val live = scala.collection.mutable.LinkedHashSet.empty[Long]

  /** One checked round; the probe and the serve both ran on `live`. */
  private final case class Round(i: Int, probeDocs: Seq[(Long, String)], live: Set[Long],
      probe: Seq[Row], q: Seq[String], served: Seq[Row])
  private val kept = ArrayBuffer.empty[Round]
  private var written, appended = 0L

  /** Set up builds both stores over the base corpus and starts the stream
    * queries (the first micro-batch runs in the warmup). */
  def setup(ctx: Ctx, dir: String): Unit = {
    if (base == null) Main.phase("generate") {
      base = ctx.gen.docs(BaseDocs)
      deltas = (0 until Rounds).map(r => ctx.gen.docs(Delta, 1000000L + r * Delta))
      fresh = (0 until Rounds).map(r => ctx.gen.docs(Probe, 5000000L + r * Probe))
      events = (0 until Rounds).map(r => ctx.gen.events(deltas(r).count(!_.cjk) * Gen.EventsPerDoc))
      picks = ctx.gen.ints(Rounds * (Deletes + Probe), Int.MaxValue)
      noise = ctx.gen.ints(1 << 16, Int.MaxValue)
    }
    import ctx.spark.implicits._
    text.clear(); live.clear()
    base.foreach { d => text(d.id) = d.text; live += d.id }
    dedupDir = s"$dir/dedup"; bm25Dir = s"$dir/bm25"
    val df = base.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
    DedupIndexStore.writeDedupIndex(df, dedupDir)
    Bm25IndexStore.writeBm25Index(df, bm25Dir)
    if (streams != null) streams.stop()
    streams = new StreamQueries(ctx, dir)
  }

  private def frame(ctx: Ctx, docs: Seq[(Long, String)]): DataFrame = {
    import ctx.spark.implicits._
    docs.toDF("doc_id", "text")
  }

  /** The probe delta: near-copies of live documents plus fresh documents. */
  private def probeDocs(ctx: Ctx, r: Int): Seq[(Long, String)] = {
    val liveSeq = live.toIndexedSeq
    val nCopy = (Probe * ProbeCopyShare).toInt
    val srcs = (0 until nCopy).map(j => liveSeq(picks((r % Rounds) * (Deletes + Probe) + Deletes + j) % liveSeq.size))
    val copies = ctx.gen.nearCopies(srcs.map(id => Gen.Doc(id, text(id), false, 0, -1)), 9000000L + r * Probe)
    copies.toSeq.map(d => (d.id, d.text)) ++ fresh(r % Rounds).drop(nCopy).map(d => (d.id + (r / Rounds) * 100000L, d.text))
  }

  /** Two words of a seeded live ASCII document, so the serve always has
    * hits however small the live set. */
  private def liveQuery(r: Int): Seq[String] = {
    val liveSeq = live.toIndexedSeq
    val at = picks((r % Rounds) * (Deletes + Probe) + Deletes + Probe - 1)
    val ws = Iterator.from(0).map(k => Gen.asciiWords(text(liveSeq((at % liveSeq.size + k) % liveSeq.size)))).find(_.length >= 2).get
    Seq(ws(at % ws.length), ws((at / ws.length) % ws.length)).distinct
  }

  private var probeIn: Seq[(Long, String)] = Nil
  private var probed: Seq[Row] = Nil
  private var liveAtProbe: Set[Long] = Set.empty

  /** Run one step of round `r`; the results of probe and serve are kept
    * for the check when `keep`. */
  private def step(ctx: Ctx, r: Int, kind: String, keep: Boolean): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val writes = kind == "append" || kind == "delete" || kind == "compact"
    val before = if (writes) Store.listing(dedupDir) ++ Store.listing(bm25Dir) else Map.empty[String, Long]
    kind match {
      case "append" =>
        val delta = deltas(r % Rounds).map(d => (d.id + (r / Rounds) * 10000000L, d.text)).toSeq
        ctx.span("store", "store.append") {
          val df = frame(ctx, delta)
          DedupIndexStore.appendToDedupIndex(df, dedupDir, batchId = s"r$r")
          Bm25IndexStore.appendToBm25Index(df, bm25Dir, batchId = s"r$r")
        }
        delta.foreach { case (id, t) => text(id) = t; live += id }
        appended += delta.size
      case "probe" =>
        probeIn = probeDocs(ctx, r)
        liveAtProbe = live.toSet
        probed = ctx.span("store", "store.probe") {
          DedupIndexStore.probeDedupIndex(frame(ctx, probeIn), dedupDir).select("id_new", "id_indexed").collect().toSeq
        }
      case "serve" =>
        val q = liveQuery(r)
        val served = ctx.span("store", "store.serve") {
          Bm25IndexStore.serveBm25TopK(spark, bm25Dir, q, k = 10, roundTo = 6)
            .select("doc_id", "score").orderBy(col("score").desc, col("doc_id")).collect().toSeq
        }
        if (keep) kept += Round(r, probeIn, liveAtProbe, probed, q, served)
      case "delete" =>
        val liveSeq = live.toIndexedSeq
        val doomed = (0 until Deletes).map(j => liveSeq(picks((r % Rounds) * (Deletes + Probe) + j) % liveSeq.size)).distinct
        ctx.span("store", "store.delete") {
          val ids = doomed.toDF("doc_id")
          DedupIndexStore.deleteFromDedupIndex(ids, dedupDir)
          Bm25IndexStore.deleteFromBm25Index(ids, bm25Dir)
        }
        doomed.foreach(live -= _)
      case "stream" =>
        val ds = deltas(r % Rounds).filterNot(_.cjk).toSeq
        ctx.span("streaming", "streaming.batch") {
          streams.feedAndWait(ds, events(r % Rounds).toSeq, k => noise((r * 7919 + k) & 0xffff))
        }
      case "compact" =>
        ctx.span("store", "store.compact") {
          DedupIndexStore.compactDedupIndex(spark, dedupDir)
          Bm25IndexStore.compactBm25Index(spark, bm25Dir)
        }
    }
    if (writes) {
      val after = Store.listing(dedupDir) ++ Store.listing(bm25Dir)
      written += after.iterator.filter { case (p, n) => !before.get(p).contains(n) }.map(_._2).sum
    }
  }

  /** Round 0, with a compaction, compiles every plan. The stream gets a
    * second batch from the last round's delta, so that the first loop
    * batch is the stream's third: the one that closes the first windows. */
  def warmup(ctx: Ctx): Unit = {
    (Steps :+ "compact").foreach(step(ctx, 0, _, keep = false))
    step(ctx, Rounds - 1, "stream", keep = false)
    streams.collectProgress(record = false)
    written = 0L; appended = 0L
  }

  /** Op `i` is step `i % cycle` of the cycle of rounds starting at 1. */
  def op(ctx: Ctx, i: Int): OpRec = {
    val j = i % cycle
    val (r, kind) =
      if (j == cycle - 1) ((i / cycle + 1) * CompactEvery, "compact")
      else (1 + (i / cycle) * CompactEvery + j / Steps.size, Steps(j % Steps.size))
    val rec = ctx.timedOp(kind, if (kind == "append") Delta else 0) {
      step(ctx, r, kind, keep = r % CheckEvery == 0)
    }
    if (kind == "stream" && ctx.tracer.recording) streams.collectProgress(record = true)
    rec
  }

  override def finish(ctx: Ctx): Unit = {
    val files = Store.listing(dedupDir) ++ Store.listing(bm25Dir)
    ctx.layer("store.write_bytes_per_doc") = written.toDouble / math.max(1L, appended)
    ctx.layer("store.bytes_per_live_doc") = files.values.sum.toDouble / math.max(1, live.size)
    ctx.layer("store.files") = files.size.toDouble
    streams.layers()
  }

  // ---- checks ----

  def check(ctx: Ctx): (Int, Seq[String]) = {
    import ctx.spark.implicits._
    val bad = ArrayBuffer.empty[String]
    kept.foreach { k =>
      val msgs = ArrayBuffer.empty[String]
      // probe == in-session near-duplicates over live docs + probe docs, cross pairs only
      val probeIds = k.probeDocs.map(_._1).toSet
      val all = k.live.toSeq.map(id => (id, text(id))) ++ k.probeDocs
      val ref = Dedup.nearDuplicates(all.toDF("doc_id", "text"), "text", "doc_id").select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).flatMap { case (a, b) =>
          if (probeIds(a) && !probeIds(b)) Some((a, b)) else if (probeIds(b) && !probeIds(a)) Some((b, a)) else None
        }.toSet
      val got = k.probe.map(r => (r.getLong(0), r.getLong(1))).toSet
      if (ref.isEmpty) msgs += s"round ${k.i}: reference probe found no pair"
      else if (got != ref) msgs += s"round ${k.i}: probe ${got.size} pairs, in-session ${ref.size} (e.g. ${(got diff ref).take(2)} / ${(ref diff got).take(2)})"
      // serve on the fragmented store == in-session BM25 over the live docs
      val want = Bm25.search(k.live.toSeq.map(id => (id, text(id))).toDF("doc_id", "text"), "text", "doc_id", k.q, k = 10, roundTo = 6)
        .select("doc_id", "score").orderBy(col("score").desc, col("doc_id")).collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
      Checks.sameScored(s"round ${k.i} serve", k.served.map(r => (r.getLong(0), r.getDouble(1))), want).foreach(msgs += _)
      msgs.headOption.foreach(bad += _)
    }
    val streamBad = streams.check()
    streams.stop()
    (kept.size + 1, bad.toSeq ++ streamBad.take(1))
  }
}
