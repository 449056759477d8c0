package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec

/** Pins the multi-batch watermark semantics `q_stream_late_windows`'
  * DuckDB oracle models, on a hand-built corpus that discriminates every
  * branch of the model (probed empirically via `graft.StreamProbe` before
  * being written down here):
  *
  *  1. in micro-batch k the LATE-ROW FILTER uses the PREVIOUS batch's
  *     committed watermark — max event time through batch k−2 minus the
  *     delay (epoch for k ≤ 1, so batch-1 rows are never filtered);
  *  2. eviction/emission in batch k uses the batch's own updated
  *     watermark, so a row passing the late filter always still finds its
  *     window in state (no gap between the two watermarks);
  *  3. under `Trigger.AvailableNow` a terminal no-data batch runs, so a
  *     final file that advances the max event time flushes every window
  *     the FINAL watermark passed.
  *
  * The corpus (window 1 h, delay 2 h; batches staged through the
  * production [[graft.SparkEntry.stagedMultiDir]] event_id%10
  * split, `maxFilesPerTrigger=1`):
  *
  *   batch-0 (ids 1–7): 00:30 | 01:15, 01:45 | 12:00   → wm after b0 = 10:00
  *   batch-1 (ids 8–9): 01:30 (END 02:00 ≪ 10:00 — kept ONLY because the
  *                      batch-1 filter is still epoch) | 13:00
  *   batch-2 (ids ≡0):  09:00 (end 10:00 ≤ 10:00 — dropped)
  *                      10:30 (end 11:00: > 10:00 = b1's committed wm but
  *                      ≤ 11:00 = max-through-b1 − 2 h — kept iff the
  *                      filter lags one batch, the decisive discriminator)
  *                      20:00 (advances max → final wm 18:00)
  *
  * Expected emission: exactly the windows ending ≤ 18:00 over the kept
  * rows — w00:1, w01:3, w10:1, w12:1, w13:1; w09 fully dropped, w20 kept
  * in state but never emitted. Any deviation from the modeled semantics
  * (filter not lagged, no cleanup batch, eviction racing the filter)
  * changes this table.
  */
class LateWindowSpec extends SparkSpec {

  test("three-batch append stream drops and emits exactly per the lagged-watermark model") {
    import spark.implicits._

    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    // (event_id, ts, value) — event_id%10 drives the batch split: 1–7 → 0, 8–9 → 1, ≡0 → 2
    val rows = Seq(
      (1L, ts("00:30"), "1.00"),
      (2L, ts("01:15"), "1.00"),
      (3L, ts("01:45"), "1.00"),
      (4L, ts("12:00"), "1.00"),
      (8L, ts("01:30"), "1.00"),
      (9L, ts("13:00"), "1.00"),
      (10L, ts("09:00"), "1.00"),
      (20L, ts("10:30"), "1.00"),
      (30L, ts("20:00"), "1.00"))
      .toDF("event_id", "ts", "value")
      .withColumn("event_type", lit("x"))

    val src = graft.util.Scratch.dir("latewin-src")
    rows.repartition(1).write.mode("overwrite").parquet(src.toString)

    val staged = graft.SparkEntry.stagedMultiDir(spark, src.toString)
    val stream = spark.readStream
      .schema(rows.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)

    val agg = TextStream.windowedEventStats(stream, "ts", "event_type", "value")
    val q = agg.writeStream
      .format("memory")
      .queryName("late_window_spec")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()

    val got = spark.table("late_window_spec")
      .select(
        date_format(col("window_start"), "HH:mm").as("ws"),
        col("n_events"),
        col("sum_value").cast("string").as("sv"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet

    val want = Set(
      ("00:00", 1L, "1.00"),
      ("01:00", 3L, "3.00"), // includes the epoch-filtered batch-1 straggler
      ("10:00", 1L, "1.00"), // the one-batch-lag discriminator
      ("12:00", 1L, "1.00"),
      ("13:00", 1L, "1.00")) // flushed by the terminal no-data batch
    assert(got == want)
  }
}
