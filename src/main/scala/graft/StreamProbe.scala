package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** Diagnostic: batch/watermark sequence of the multi-batch stream. */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = SparkEntry.stagedMultiDir(spark, s"$dir/events.parquet")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(staged)
    val stream = src.withColumn("ets", SparkEntry.normalizedTs(src, "ts"))
    val agg = graft.streaming.TextStream.windowedEventStats(stream, "ets", "event_type", "value")
    val q = agg.writeStream.format("memory").queryName("probe_late")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.recentProgress.foreach { p =>
      println(s"BATCH=${p.batchId} rows=${p.numInputRows} watermark=${p.eventTime.get("watermark")} max=${p.eventTime.get("max")}")
    }
    q.stop(); spark.stop()
  }
}
