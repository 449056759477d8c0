package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec

/** End-to-end `readStream` → transform → `writeStream` over REAL parquet
  * files (the driver's events table), not MemoryStream: pins that the
  * streaming surface composes with a file source, that
  * `Trigger.AvailableNow` drains it to completion, and that the streaming
  * answer equals the equivalent batch aggregation — the
  * batch/streaming-unification contract the operators are designed for. */
class FileStreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** File streams read directories; the testdata ships single files —
    * stage one into a scratch dir (read-only source, untouched). */
  private def staged(table: String): String = {
    val d = graft.util.Scratch.dir(s"stream-$table")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/$table.parquet"),
      d.resolve(s"$table.parquet"))
    d.toString
  }

  test("file-source streaming windowed counts equal the batch aggregation") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema

    // dtype-robust event time (TIMESTAMP_NTZ as-is / legacy nanos-long
    // converted) — same branch the query surface uses
    def shaped(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", graft.SparkEntry.normalizedTs(df, "ts"))
      .select(col("ts"), col("event_type"))

    val stream = shaped(
      spark.readStream.schema(schema).parquet(staged("events")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

    val q = stream.writeStream
      .format("memory")
      .queryName("file_windows")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()

    val streamed = spark.table("file_windows").collect()
      .map(r => (r.get(0), r.getString(1), r.getLong(2))).toSet

    val batch = shaped(spark.read.parquet(s"$dir/events.parquet"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect()
      .map(r => (r.get(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("file-source streaming dedup emits one row per content hash") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    // documents have no event time; attach a constant one (dedup keys on
    // the content hash, the watermark only bounds state)
    val stream = TextStream.streamingExactDedup(
      spark.readStream.schema(schema).parquet(staged("documents"))
        .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))),
      "text", "ts")

    val q = stream.writeStream
      .format("memory")
      .queryName("file_dedup")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()

    val batchDistinct = spark.read.parquet(s"$dir/documents.parquet")
      .select(sha2(coalesce(col("text"), lit("")), 256)).distinct().count()
    assert(spark.table("file_dedup").count() == batchDistinct)
  }
}
