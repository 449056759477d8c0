package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Fault tolerance: a checkpointed stateful stream killed mid-input and
  * RESTARTED from its checkpoint must resume with its state intact and
  * land on exactly the batch answer — no dropped files, no double
  * counting. The oracle queries pin single-run correctness; this spec
  * pins the restart path (exactly-once file tracking + state-store
  * recovery). */
class StreamRestartSpec extends SparkSpec {

  import spark.implicits._

  test("running-totals stream resumes from the checkpoint with exactly-once totals") {
    // a 3-file source directory so maxFilesPerTrigger=1 yields 3
    // batches; files are sliced by i/30 so every file carries ALL
    // three lang keys (10 docs each) — a single drained batch is then
    // distinguishable from a full drain in the per-key totals
    val srcDir = graft.util.Scratch.dir("restart-src").toString
    val docs = (0 until 90).map(i => (i.toLong, s"lang${i % 3}", "spark window " * (i % 4 + 1)))
    for (part <- 0 until 3)
      docs.filter(_._1 / 30 == part).toDF("doc_id", "lang", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/batch$part")
    val schema = spark.read.parquet(s"$srcDir/batch0").schema
    val ckpt = graft.util.Scratch.dir("restart-ckpt").toString
    val sink = graft.util.Scratch.dir("restart-sink").toString + "/out"

    // foreachBatch: the checkpoint-recoverable sink (memory is not).
    // Append of update rows is at-least-once on restart, but totals are
    // monotone, so the max-per-key read below is idempotent — the
    // standard foreachBatch idempotence argument made concrete.
    // `killAfterBatch0` injects a deterministic failure BEFORE batch 1
    // writes, so run 1 always dies with exactly one committed batch —
    // no race between progress polling and stop().
    def start(queryName: String, maxFiles: Int, killAfterBatch0: Boolean) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFiles.toString)
        .parquet(s"$srcDir/*")
      TextStream.runningTotals(stream, "lang", "text")
        .toDF("key", "n_docs", "n_toks")
        .writeStream
        .queryName(queryName)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          if (killAfterBatch0 && batchId >= 1)
            throw new RuntimeException("injected mid-input failure")
          batch.write.mode("append").parquet(sink)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }

    // first run: one file per batch; injected failure kills it after
    // batch 0 commits (batch 1's offsets never commit, so the restart
    // below MUST re-deliver the remaining input)
    val q1 = start("graft_restart_1", maxFiles = 1, killAfterBatch0 = true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    val seenDocs = spark.read.parquet(sink).agg(max("n_docs")).as[Long].head()
    // one 30-doc file drained → 10 docs per key; a full drain would be
    // 30 per key, so this pins that run 1 really died mid-input
    assert(seenDocs < 30, s"first run should have died mid-input (saw $seenDocs docs in some key)")

    // restart from the same checkpoint: remaining files drain, per-key
    // state carries over — run 2's updates START from run 1's totals
    val q2 = start("graft_restart_2", maxFiles = 3, killAfterBatch0 = false)
    try q2.awaitTermination()
    finally q2.stop()

    // totals are monotone: max per key across all landed updates = the
    // final state — run 2's emissions must CONTINUE from run 1's
    // restored per-key state to reach the batch totals
    val got = spark.read.parquet(sink)
      .groupBy("key")
      .agg(max("n_docs").as("n_docs"), max("n_toks").as("n_toks"))
      .orderBy("key")
      .as[(String, Long, Long)].collect().toSeq
    val want = docs.toDF("doc_id", "lang", "text")
      .select(col("lang").as("key"),
        size(graft.text.Tokenize.tokenize(col("text"))).cast("long").as("n"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_toks"))
      .orderBy("key")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == want)
  }
}
