package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One span: a timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond precision (nanoTime anchored once), so they compare with
  * the listener's job timestamps. `op` is the enclosing top-level op. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark job as seen by the listener, with task metrics summed over its
  * stages. */
final class JobRec(val id: Int, val start: Long) {
  @volatile var end: Long = -1L
  var tasks, stagesRun = 0L
  var runMs, cpuMs, gcMs, inBytes, outBytes, shReadBytes, shWriteBytes, spillBytes = 0L
}

/** The benchmark's span recorder. Disabled, `span` only runs its body; a
  * single client thread opens spans, and the hybrid serve's leg threads
  * run inside the span that opened them. */
final class Tracer(enabled: Boolean) {
  /** Off outside the timed loop, so checks leave no spans. */
  @volatile var recording: Boolean = enabled
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private var stack: List[Int] = Nil
  private var curOp = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0)
      if (parent == 0) curOp = id
      val t0 = now()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans.synchronized { spans += Span(id, parent, curOp, layer, name, t0, now()) }
      }
    }

  /** A span whose bounds were measured elsewhere (stage timings a public
    * API reports after the fact), laid end to end from `start`. */
  def addChildren(parentName: String, start: Double, parts: Seq[(String, String, Double)]): Unit =
    if (recording) {
      val parent = spans.reverseIterator.find(_.name == parentName)
      parent.foreach { p =>
        var t = start
        parts.foreach { case (layer, name, ms) =>
          spans.synchronized { spans += Span(ids.incrementAndGet(), p.id, p.op, layer, name, t, t + ms) }
          t += ms
        }
      }
    }
}

/** Collects jobs and their task metrics; attribution to spans happens after
  * the run by time window (exact with one client). */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val r = new JobRec(e.jobId, e.time)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.put(s, r))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stagesRun += 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (r != null && m != null) r.synchronized {
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.cpuMs += m.executorCpuTime / 1000000L
      r.gcMs += m.jvmGCTime
      r.inBytes += m.inputMetrics.bytesRead
      r.outBytes += m.outputMetrics.bytesWritten
      r.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      r.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def finished: Seq[JobRec] = jobs.values().asScala.toSeq.filter(_.end >= 0).sortBy(_.start)
}

/** Per-op decomposition of a traced run. */
final case class OpLayers(
    op: Span,
    jobs: Seq[JobRec],
    jobMs: Double,
    overlapMs: Double,
    selfMs: Map[String, Double])

object Attribution {

  /** Length of the union of intervals, and of the part covered twice. */
  def unionAndOverlap(iv: Seq[(Double, Double)]): (Double, Double) = {
    val ev = iv.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(e => (e._1, e._2))
    var depth = 0; var last = 0.0; var union = 0.0; var twice = 0.0
    ev.foreach { case (t, d) =>
      if (depth >= 1) union += t - last
      if (depth >= 2) twice += t - last
      depth += d; last = t
    }
    (union, twice)
  }

  /** Jobs go to the op whose window holds their start; self time per
    * layer is a span's wall time minus the union of its children. */
  def perOp(spans: Seq[Span], jobs: Seq[JobRec]): Seq[OpLayers] = {
    val byParent = spans.groupBy(_.parent)
    val ops = spans.filter(_.parent == 0).sortBy(_.start)
    ops.map { op =>
      val js = jobs.filter(j => j.start >= op.start - 1 && j.start <= op.end + 1)
      val clipped = js.map(j => (math.max(j.start.toDouble, op.start), math.min(math.max(j.end.toDouble, j.start + 0.5), op.end)))
      val (jobMs, overlapMs) = unionAndOverlap(clipped.filter { case (a, b) => b > a })
      val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def walk(s: Span): Unit = {
        val kids = byParent.getOrElse(s.id, Nil)
        val covered = unionAndOverlap(kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end))).filter(p => p._2 > p._1))._1
        self(s.layer) += math.max(0.0, s.ms - covered)
        kids.foreach(walk)
      }
      walk(op)
      OpLayers(op, js, jobMs, overlapMs, self.toMap)
    }
  }
}
