package graftbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.TextStream

/** The stream side of `index_ingest`: a document stream and an event
  * stream, fed one micro-batch per ingest round into four queries — the
  * curation gate and exact dedup; the curation gate and windowed token
  * counts; windowed event stats; streaming heavy hitters. [[feedAndWait]]
  * returns once every query has committed the batch. Event time runs on a
  * logical clock of two minutes per batch, so one-minute windows close and
  * the watermarks evict state on every batch from the third on; a
  * [[LateShare]] of documents and events arrives a day late and is dropped.
  * The stream carries ASCII documents only, so the checks can count tokens
  * with plain string code. */
final class StreamQueries(ctx: Ctx, dir: String) {
  val HhK = 32
  /** A setting: the `events` test table arrives in time order. */
  val LateShare = 0.02
  val Base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  val BatchMs = 120000L

  private implicit val sqlCtx: SQLContext = ctx.spark.sqlContext
  import ctx.spark.implicits._
  private val docs = MemoryStream[(Timestamp, Int, String)]
  private val events = MemoryStream[(Timestamp, Int, Int, Double)]
  private val sinkPrefix = "s" + dir.hashCode.abs
  private val hhRows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
  private val fedDocs = ArrayBuffer.empty[(Long, Int, String, Boolean)] // ts, user, text, late
  private val fedEvents = ArrayBuffer.empty[(Long, Int, Int, Double, Boolean)] // ts, type, user, value, late
  private var batch = 0

  private val queries: Seq[StreamingQuery] = {
    val d = docs.toDF().toDF("ts", "user", "text")
    val e = events.toDF().toDF("ts", "event_type", "user", "value")
    // the gate feeds both stateful stages; two watermarks cannot share one query
    val gated = TextStream.curationGate(d, "text")
    val dedup = TextStream.streamingExactDedup(gated, "text", "ts").select("ts", "user", "content_hash")
    val tok = TextStream.windowedTokenCounts(gated, "text", "ts", windowDuration = "1 minute", watermark = "1 minute")
    val ev = TextStream.windowedEventStats(e, "ts", "event_type", "value", windowDuration = "1 minute", watermark = "1 minute")
    val hh = TextStream.streamingHeavyHitters(d, "user", "text", HhK)
    def mem(df: DataFrame, q: String, mode: OutputMode) =
      df.writeStream.format("memory").queryName(s"${sinkPrefix}_$q").outputMode(mode)
        .option("checkpointLocation", s"$dir/checkpoints/$q").start()
    val spark = ctx.spark
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val plain = Seq(mem(tok, "tok", OutputMode.Append), mem(ev, "ev", OutputMode.Append), mem(dedup, "dedup", OutputMode.Append))
    // transformWithState needs the RocksDB state store; the setting is read at start
    spark.conf.set(providerKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try plain :+ hh.toDF("key", "token", "est").writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$dir/checkpoints/hh")
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.collect().foreach(r => hhRows.add((id, r.getString(0), r.getString(1), r.getLong(2)))); ()
      }.start()
    finally spark.conf.unset(providerKey)
  }

  def stop(): Unit = queries.foreach(_.stop())

  /** Feed one batch — the documents, and events as (type, user, value) —
    * and wait until every query has committed it. `noise` gives each row's
    * offset inside the batch's two minutes and whether it arrives late. */
  def feedAndWait(ds: Seq[Gen.Doc], es: Seq[(Int, Int, Double)], noise: Int => Int): Unit = {
    val b = batch; batch += 1
    def late(k: Int) = b > 0 && noise(k) % 1000 < LateShare * 1000
    def ts(k: Int) = new Timestamp(if (late(k)) Base - 86400000L else Base + b * BatchMs + noise(k + 1) % BatchMs)
    val dRows = ds.zipWithIndex.map { case (d, j) => (ts(2 * j), d.user, d.text, late(2 * j)) }
    val eRows = es.zipWithIndex.map { case ((ty, u, v), j) => val k = 2 * (ds.size + j); (ts(k), ty, u, v, late(k)) }
    dRows.foreach { case (t, u, x, l) => fedDocs += ((t.getTime, u, x, l)) }
    eRows.foreach { case (t, ty, u, v, l) => fedEvents += ((t.getTime, ty, u, v, l)) }
    docs.addData(dRows.map { case (t, u, x, _) => (t, u, x) })
    events.addData(eRows.map { case (t, ty, u, v, _) => (t, ty, u, v) })
    queries.foreach(_.processAllAvailable())
  }

  private val lastBatch = scala.collection.mutable.HashMap.empty[java.util.UUID, Long]
  private val dur = scala.collection.mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var stateRows, stateBytes, dropped = 0.0
  private var samples = 0

  /** Sum the progress of every micro-batch since the last call, per query;
    * `record = false` only moves the mark (batches before the loop). */
  def collectProgress(record: Boolean): Unit = queries.foreach { q =>
    val seen = lastBatch.getOrElse(q.id, -1L)
    val fresh = q.recentProgress.filter(_.batchId > seen)
    if (record) {
      fresh.foreach { p =>
        p.durationMs.asScala.foreach { case (k, v) => dur(k) += v.doubleValue }
        p.stateOperators.foreach { s =>
          dur("stateCommit") += s.commitTimeMs
          dropped += s.numRowsDroppedByWatermark
        }
      }
      fresh.lastOption.foreach { p =>
        stateRows += p.stateOperators.map(_.numRowsTotal).sum
        stateBytes += p.stateOperators.map(_.memoryUsedBytes).sum
        samples += 1
      }
    }
    fresh.lastOption.foreach(p => lastBatch(q.id) = p.batchId)
  }

  /** The streaming layer values, over the batches recorded. */
  def layers(): Unit = {
    val trig = math.max(1e-9, dur("triggerExecution"))
    def share(k: String) = 100.0 * dur(k) / trig
    ctx.layer("streaming.add_batch.share") = share("addBatch")
    ctx.layer("streaming.wal_commit.share") = share("walCommit")
    ctx.layer("streaming.query_planning.share") = share("queryPlanning")
    ctx.layer("streaming.latest_offset.share") = share("latestOffset")
    ctx.layer("streaming.commit_offsets.share") = share("commitOffsets")
    ctx.layer("streaming.state_commit.share") = share("stateCommit")
    ctx.layer("streaming.state_rows") = stateRows / math.max(1, samples)
    ctx.layer("streaming.state_bytes") = stateBytes / math.max(1, samples)
    ctx.layer("streaming.rows_dropped_late") = dropped
  }

  /** Sink contents against plain-Scala group-bys of the fed batches. */
  def check(): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    val spark = ctx.spark
    def win(ts: Long) = ts - Math.floorMod(ts, 60000L)
    // windowed event stats: every emitted (window, type) equals the fed events in it
    val evWant = fedEvents.filterNot(_._5).groupBy(e => (win(e._1), e._2))
      .map { case (k, v) => k -> (v.size.toLong, v.map(x => BigDecimal(x._4)).sum) }
    val evGot = spark.table(s"${sinkPrefix}_ev").collect()
    if (evGot.isEmpty) bad += "event stats: no window was emitted"
    evGot.find { r =>
      val k = (r.getTimestamp(0).getTime, r.getInt(1))
      !evWant.get(k).contains((r.getLong(2), BigDecimal(r.getDecimal(3))))
    }.foreach(r => bad += s"event stats window $r differs from the fed events")
    // exact dedup: a content hash passes at most once per 10-minute horizon
    val dd = spark.table(s"${sinkPrefix}_dedup").collect().map(r => (r.getString(2), r.getTimestamp(0).getTime))
    if (dd.isEmpty) bad += "dedup: no document passed"
    dd.groupBy(_._1).find { case (_, v) => v.map(_._2).sorted.sliding(2).exists(p => p.size == 2 && p(1) - p(0) < 600000L) }
      .foreach { case (h, _) => bad += s"dedup passed hash $h twice within its watermark" }
    if (dd.length > fedDocs.map(_._3).distinct.size) bad += "dedup passed more docs than distinct texts fed"
    // windowed token counts after gate and dedup can only undercount
    val tokWant = fedDocs.filterNot(_._4).flatMap(d => Gen.asciiWords(d._3).map(w => (win(d._1), w)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tokGot = spark.table(s"${sinkPrefix}_tok").collect()
    if (tokGot.isEmpty) bad += "token counts: no window was emitted"
    tokGot.find { r =>
      val tok = r.getString(1)
      tok.matches("[a-z]+") && r.getLong(2) > tokWant.getOrElse((r.getTimestamp(0).getTime, tok), 0L)
    }.foreach(r => bad += s"token count $r exceeds the fed docs")
    // heavy hitters: each user's latest summary meets the Misra-Gries bound
    val latest = hhRows.asScala.toSeq.groupBy(_._2).map { case (u, rs) =>
      val last = rs.map(_._1).max
      u -> rs.filter(_._1 == last).map(r => r._3 -> r._4).toMap
    }
    val truth = fedDocs.groupBy(_._2).map { case (u, ds) =>
      u.toString -> ds.flatMap(d => Gen.asciiWords(d._3)).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    }
    if (latest.isEmpty) bad += "heavy hitters: no summary was emitted"
    latest.find { case (u, summary) =>
      val t = truth.getOrElse(u, Map.empty[String, Long])
      val slack = t.values.sum / (HhK + 1)
      summary.exists { case (tok, est) => est > t.getOrElse(tok, 0L) || t.getOrElse(tok, 0L) - est > slack }
    }.foreach { case (u, _) => bad += s"heavy hitters for user $u break the Misra-Gries bound" }
    bad.toSeq
  }
}
