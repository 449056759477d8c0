package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload hands the harness. */
final class Ctx(val spark: SparkSession, val gen: Gen, val tracer: Tracer) {
  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
  /** Time one op: the top-level span, and the latency the run reports. */
  def timedOp(kind: String, items: Long)(body: => Unit): OpRec = {
    val t0 = System.nanoTime()
    tracer.span("op", kind)(body)
    OpRec(kind, items, (System.nanoTime() - t0) / 1e6)
  }
  /** Values for the run's info line (not metrics). */
  val info = scala.collection.mutable.Map.empty[String, Any]
  /** Per-layer values a workload measures itself (counts, ratios, bytes). */
  val layer = scala.collection.mutable.Map.empty[String, Double]
}

/** One timed op: its kind, how many items it processed, its wall time. */
final case class OpRec(kind: String, items: Long, ms: Double)

trait Workload {
  def name: String
  /** Build the fixtures the loop needs under `dir`; timed as `setup_s`. */
  def setup(ctx: Ctx, dir: String): Unit

  /** Untimed: first calls compile codegen and warm the JIT. */
  def warmup(ctx: Ctx): Unit
  /** Run op number `i` (input preparation untimed, the call inside
    * [[Ctx.timedOp]]). Results the checks need are kept by the workload; a
    * thrown exception counts as a failed op. */
  def op(ctx: Ctx, i: Int): OpRec
  /** Compare the kept results with independent computations; returns the
    * number of ops compared and one message per mismatching op. */
  def check(ctx: Ctx): (Int, Seq[String])
  /** Ops that form one unit of the mix; the loop ends only on a boundary. */
  def cycle: Int = 1
  /** Typical op time. When set, a run makes round(seconds / opSeconds) ops,
    * rounded to whole cycles, whatever the machine's speed, so a median is
    * always taken over the same ops: op latency drifts down as the JIT
    * warms, and a count that depended on speed would move the median with
    * it. */
  def opSeconds: Double = 0.0
  /** The op kind whose median latency is `op_p50_ms`; every kind if empty. */
  def primaryKind: String = ""
  /** Ops of each kind in one unit of the mix; `items_per_s` weighs each
    * kind's mean items and mean latency by it, so the rate does not depend
    * on where in a unit the loop stopped. Empty: plain totals. */
  def mix: Map[String, Int] = Map.empty
  /** After the loop, with the listener's data: workload-level layer values. */
  def finish(ctx: Ctx): Unit = ()
}

final class PhaseFailure(val phase: String, cause: Throwable) extends RuntimeException(cause)

object Main {
  val SetupReps = 3

  def phase[T](name: String)(body: => T): T =
    try body
    catch { case e: PhaseFailure => throw e; case e: Throwable => throw new PhaseFailure(name, e) }

  def workloadFor(name: String): Workload = name match {
    case "corpus_batch" => new CorpusBatch
    case "search_serve" => new SearchServe
    case "index_ingest" => new IndexIngest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(runDir: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$runDir/tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of these percentiles with at least ten samples beyond it
    * (nearest rank); the median when the run has fewer than 20 samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    val pct = Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
    val idx = math.min(n - 1, math.max(0, math.ceil(pct / 100 * n).toInt - 1))
    (if (n == 0) 0.0 else s(idx), pct)
  }

  def itemsPerS(w: Workload, ops: Seq[OpRec]): Double = {
    val byKind = ops.groupBy(_.kind).filter { case (k, _) => w.mix.isEmpty || w.mix.contains(k) }
    def weight(s: String) = w.mix.getOrElse(s, 1).toDouble
    val (items, secs) = byKind.foldLeft((0.0, 0.0)) { case ((i, t), (s, os)) =>
      val k = if (w.mix.isEmpty) os.size.toDouble else weight(s)
      (i + k * os.map(_.items).sum / os.size, t + k * os.map(_.ms).sum / os.size / 1000.0)
    }
    items / math.max(1e-9, secs)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wname = a("workload")
    try run(workloadFor(wname), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("cpus").toInt, a("run-dir"), a.get("spans"))
    catch {
      case e: PhaseFailure =>
        val c = e.getCause
        System.err.println(s"perfbench: FAILED workload=$wname phase=${e.phase} " +
          s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).linesIterator.take(1).mkString}")
        c.printStackTrace()
        System.exit(2)
    }
    System.exit(0)
  }

  def run(w: Workload, seed: Long, seconds: Int, traced: Boolean, cpus: Int,
      runDir: String, spansOut: Option[String]): (Int, Int) = {
    val tStart = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val wname = w.name
    val gen = new Gen(seed)
    val spark = phase("setup")(session(runDir, cpus))
    val sessionS = since(tStart)
    val tracer = new Tracer(traced)
    val ctx = new Ctx(spark, gen, tracer)
    val listener = new JobListener
    if (traced) spark.sparkContext.addSparkListener(listener)

    val setupS = (0 until SetupReps).map { k =>
      val t0 = System.nanoTime()
      phase("setup")(w.setup(ctx, s"$runDir/fixture-$k"))
      (System.nanoTime() - t0) / 1e9
    }
    val tWarm = System.nanoTime()
    phase("setup")(w.warmup(ctx))
    val warmS = since(tWarm)
    // traced ops only: spans and jobs from setup and warmup are dropped
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    listener.jobs.clear()
    tracer.spans.clear()

    // the loop starts on a collected heap, once the ContextCleaner has
    // released what the collection freed
    System.gc(); Thread.sleep(500)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val gc0 = gcMs
    val ops = ArrayBuffer.empty[OpRec]
    var failed = 0
    val deadline = System.nanoTime() + seconds * 1000000000L
    val fixedOps = if (w.opSeconds > 0) w.cycle * math.max(1, math.round(seconds / w.opSeconds / w.cycle).toInt) else 0
    def more(i: Int) = if (fixedOps > 0) i < fixedOps else System.nanoTime() < deadline || i % w.cycle != 0
    var i = 0
    while (more(i)) {
      try ops += w.op(ctx, i)
      catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"perfbench: workload=$wname phase=op op=$i ${e.getClass.getSimpleName}: ${e.getMessage}")
          ops += OpRec("failed", 0, 0.0)
      }
      i += 1
    }
    val gcLoop = gcMs - gc0
    tracer.recording = false
    val tCheck = System.nanoTime()
    val (checked, mismatches) = phase("check")(w.check(ctx))
    mismatches.foreach(m => System.err.println(s"perfbench: workload=$wname phase=check $m"))
    failed += mismatches.size
    if (checked == 0) throw new PhaseFailure("check", new IllegalStateException("no op was checked"))

    val checkS = since(tCheck)
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    phase("check")(w.finish(ctx))
    // settle: collected checkpoint RDDs release their blocks through the
    // ContextCleaner, which a further collection then reclaims
    for (_ <- 0 until 2) { System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val good = ops.filter(_.kind != "failed")
    val lat = good.map(_.ms)
    val primary = good.filter(o => w.primaryKind.isEmpty || o.kind == w.primaryKind).map(_.ms).toSeq
    val (tailMs, tailPct) = tail(lat.toSeq)
    val attempted = ops.size
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(setupS), "s"),
        ("op_p50_ms", median(primary), "ms"),
        ("items_per_s", itemsPerS(w, good.toSeq), "1/s"),
        ("ok_ratio", (attempted - failed).toDouble / math.max(1, attempted), "ratio"),
        ("retained_heap_mb", heapMb, "MB"))
      else Layers.metrics(ctx, w, tracer, listener, good.toSeq, gcLoop, tailMs, tailPct, primary, spansOut)
    val info = Map(
      "workload" -> wname, "seed" -> seed, "inputs_sha256" -> gen.digest,
      "ops" -> attempted, "checked_ops" -> checked,
      "op_tail_ms" -> tailMs, "op_tail_pct" -> tailPct,
      "phase_s" -> Map("session" -> sessionS, "setup_reps" -> setupS, "setups" -> setupS.sum,
        "warmup" -> warmS, "check" -> checkS, "total" -> since(tStart)),
      "op_ms" -> good.map(o => math.round(o.ms)).toSeq,
      "kinds" -> good.groupBy(_.kind).map { case (k, v) => k -> Map("n" -> v.size, "p50_ms" -> median(v.map(_.ms).toSeq)) }) ++ ctx.info
    println(Json.obj(info))

    println(Json.obj(Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    spark.stop()
    (attempted, failed)
  }
}

/** Minimal JSON writer (no dependency beyond the Spark jars). */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")

  def writeLines(path: String, lines: Iterator[String]): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    val pw = new PrintWriter(path, "UTF-8")
    try lines.foreach(pw.println) finally pw.close()
  }
}
