package graftbench

/** The per-layer metrics of a traced run. Every workload of BENCHMARK.json
  * reports every name in [[names]] (a layer a workload never calls reads
  * 0), so times that only some workloads have are reported as a share of
  * op wall time; the span NDJSON and `perfbench/summarize.py` give them in
  * milliseconds. */
object Layers {

  /** Layers are the graft modules the benchmark calls into. */
  val Modules = Seq("text", "cache", "embed", "dedup", "topic", "bm25", "ann", "hybrid", "store", "streaming")

  /** Span names whose share of op wall time is reported. */
  val SpanShares = Seq(
    "text.clean_count", "text.tokenize", "text.keyness", "text.concordance",
    "cache.tokenize", "dedup.near_dup", "dedup.clusters", "topic.run",
    "bm25.serve", "bm25.batch", "ann.serve", "hybrid.serve", "hybrid.batch",
    "store.append", "store.delete", "store.compact", "store.probe", "store.serve",
    "streaming.batch")

  /** Values a workload sets in `ctx.layer` (0 where it does not apply). */
  val WorkloadKeys: Seq[(String, String)] = Seq(
    "cache.tokenize.hit_ratio" -> "ratio",
    "cache.bytes_written" -> "bytes",
    "dedup.candidate_pairs" -> "count",
    "dedup.kept_ratio" -> "ratio",
    "store.write_bytes_per_doc" -> "bytes",
    "store.bytes_per_live_doc" -> "bytes",
    "store.files" -> "count",
    "streaming.add_batch.share" -> "%",
    "streaming.wal_commit.share" -> "%",
    "streaming.query_planning.share" -> "%",
    "streaming.latest_offset.share" -> "%",
    "streaming.commit_offsets.share" -> "%",
    "streaming.state_commit.share" -> "%",
    "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes",
    "streaming.rows_dropped_late" -> "count")

  /** Job counts per call of these spans (innermost-span attribution). */
  val SpanJobs = Seq("dedup.clusters", "bm25.serve", "ann.serve", "hybrid.serve", "store.probe")

  def names: Seq[(String, String)] =
    Seq(
      "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.driver_ms_per_op" -> "ms", "spark.job_ms_per_op" -> "ms", "spark.job_share" -> "%",
      "spark.overlap_share" -> "%", "spark.exec_run_ms_per_op" -> "ms", "spark.exec_cpu_ms_per_op" -> "ms",
      "spark.input_bytes_per_op" -> "bytes", "spark.output_bytes_per_op" -> "bytes",
      "spark.shuffle_read_bytes_per_op" -> "bytes", "spark.shuffle_write_bytes_per_op" -> "bytes",
      "spark.spill_bytes_per_op" -> "bytes",
      "jvm.gc_ms_per_op" -> "ms", "jvm.tmp_bytes_left" -> "bytes",
      "op.p50_ms" -> "ms", "op.tail_ms" -> "ms", "op.tail_pct" -> "%", "op.count" -> "count",
      "trace.residual_share" -> "%") ++
      Modules.map(m => s"$m.share" -> "%") ++
      SpanShares.map(s => s"$s.share" -> "%") ++
      SpanJobs.map(s => s"$s.jobs" -> "count") ++
      Seq("bm25.serve.input_bytes" -> "bytes", "bm25.serve.driver_share" -> "%",
        "hybrid.serve.driver_share" -> "%", "hybrid.serve.overlap_share" -> "%") ++
      WorkloadKeys

  def metrics(
      ctx: Ctx,
      w: Workload,
      tracer: Tracer,
      listener: JobListener,
      ops: Seq[OpRec],
      gcMs: Long,
      tailMs: Double,
      tailPct: Double,
      primaryMs: Seq[Double],
      spansOut: Option[String]): Seq[(String, Double, String)] = {
    val spans = tracer.spans.toSeq
    val jobs = listener.finished
    val per = Attribution.perOp(spans, jobs)
    val n = math.max(1, per.size).toDouble
    val wall = per.map(_.op.ms).sum
    def pct(x: Double, of: Double) = if (of <= 0) 0.0 else 100.0 * x / of
    val opJobs = per.flatMap(_.jobs)
    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    v("spark.jobs_per_op") = opJobs.size / n
    v("spark.stages_per_op") = opJobs.map(_.stagesRun).sum / n
    v("spark.tasks_per_op") = opJobs.map(_.tasks).sum / n
    v("spark.job_ms_per_op") = per.map(_.jobMs).sum / n
    v("spark.driver_ms_per_op") = (wall - per.map(_.jobMs).sum) / n
    v("spark.job_share") = pct(per.map(_.jobMs).sum, wall)
    v("spark.overlap_share") = pct(per.map(_.overlapMs).sum, wall)
    v("spark.exec_run_ms_per_op") = opJobs.map(_.runMs).sum / n
    v("spark.exec_cpu_ms_per_op") = opJobs.map(_.cpuMs).sum / n
    v("spark.input_bytes_per_op") = opJobs.map(_.inBytes).sum / n
    v("spark.output_bytes_per_op") = opJobs.map(_.outBytes).sum / n
    v("spark.shuffle_read_bytes_per_op") = opJobs.map(_.shReadBytes).sum / n
    v("spark.shuffle_write_bytes_per_op") = opJobs.map(_.shWriteBytes).sum / n
    v("spark.spill_bytes_per_op") = opJobs.map(_.spillBytes).sum / n
    v("jvm.gc_ms_per_op") = gcMs / n
    v("jvm.tmp_bytes_left") = 0.0 // measured by run.py after the JVM exits
    v("op.p50_ms") = Main.median(primaryMs)
    v("op.tail_ms") = tailMs
    v("op.tail_pct") = tailPct
    v("op.count") = ops.size
    v("trace.residual_share") = pct(per.map(p => p.selfMs.getOrElse("op", 0.0)).sum, wall)
    Modules.foreach(m => v(s"$m.share") = pct(per.map(_.selfMs.getOrElse(m, 0.0)).sum, wall))

    // innermost span holding each job's start
    val byName = spans.groupBy(_.name)
    def jobsIn(s: Span): Seq[JobRec] = jobs.filter(j => j.start >= s.start - 1 && j.start <= s.end + 1)
    SpanShares.foreach(s => v(s"$s.share") = pct(byName.getOrElse(s, Nil).map(_.ms).sum, wall))
    SpanJobs.foreach { s =>
      val calls = byName.getOrElse(s, Nil)
      v(s"$s.jobs") = if (calls.isEmpty) 0.0 else calls.map(c => jobsIn(c).size).sum.toDouble / calls.size
    }
    def driverShare(s: String): (Double, Double) = {
      val calls = byName.getOrElse(s, Nil)
      val parts = calls.map { c =>
        val iv = jobsIn(c).map(j => (math.max(j.start.toDouble, c.start), math.min(math.max(j.end.toDouble, j.start + 0.5), c.end)))
        Attribution.unionAndOverlap(iv.filter(p => p._2 > p._1))
      }
      val w = calls.map(_.ms).sum
      (pct(w - parts.map(_._1).sum, w), pct(parts.map(_._2).sum, w))
    }
    val bm = byName.getOrElse("bm25.serve", Nil)
    v("bm25.serve.input_bytes") = if (bm.isEmpty) 0.0 else bm.map(c => jobsIn(c).map(_.inBytes).sum).sum.toDouble / bm.size
    v("bm25.serve.driver_share") = driverShare("bm25.serve")._1
    val (hd, ho) = driverShare("hybrid.serve")
    v("hybrid.serve.driver_share") = hd
    v("hybrid.serve.overlap_share") = ho
    WorkloadKeys.foreach { case (k, _) => v(k) = ctx.layer.getOrElse(k, 0.0) }

    spansOut.foreach { path =>
      val lines = spans.sortBy(_.start).iterator.map { s =>
        Json.obj(Map("type" -> "span", "workload" -> w.name, "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))
      } ++ jobs.iterator.map { j =>
        Json.obj(Map("type" -> "job", "workload" -> w.name, "id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
          "stages" -> j.stagesRun, "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ms" -> j.cpuMs, "gc_ms" -> j.gcMs,
          "input_bytes" -> j.inBytes, "output_bytes" -> j.outBytes, "shuffle_read_bytes" -> j.shReadBytes,
          "shuffle_write_bytes" -> j.shWriteBytes, "spill_bytes" -> j.spillBytes))
      } ++ Iterator.single(Json.obj(Map("type" -> "run", "workload" -> w.name, "ops" -> ops.size,
        "op_p50_ms" -> Main.median(primaryMs), "gc_ms" -> gcMs)))
      Json.writeLines(path, lines)
    }
    names.map { case (k, u) => (k, v.getOrElse(k, 0.0), u) }
  }
}
