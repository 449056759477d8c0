package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The streaming MG surface beyond the oracle's exact regime: state
  * encode/decode round-trips (including a separator character inside a
  * tracked item — `lastIndexOf(':')` parsing), and the processor under
  * EVICTION still honors the Misra–Gries ε-guarantee the batch
  * Aggregator pins. */
class HeavyHittersStateSpec extends SparkSpec {

  import spark.implicits._

  test("summary under eviction keeps the MG undercount guarantee end-to-end") {
    // k = 2 over 3 distinct tokens: decrements MUST fire; the guarantee
    // est(x) <= true(x) <= est(x) + N/(k+1) still holds for emitted rows
    val srcDir = graft.util.Scratch.dir("hh-src").toString
    val docs = Seq(
      (0L, "en", "alpha alpha alpha alpha beta beta gamma"),
      (1L, "en", "alpha alpha beta gamma"),
      (2L, "en", "alpha beta"))
    docs.toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val hh = TextStream.streamingHeavyHitters(stream, "lang", "text", k = 2)
        .toDF("lang", "token", "est")
      spark.catalog.dropTempView("graft_hh_evict")
      val q = hh.writeStream.format("memory").queryName("graft_hh_evict")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      val ests = spark.table("graft_hh_evict")
        .groupBy("token").agg(max("est").as("est"))
        .as[(String, Long)].collect().toMap
      val truth = Map("alpha" -> 7L, "beta" -> 4L, "gamma" -> 2L)
      val n = truth.values.sum
      assert(ests.size <= 2, s"at most k items tracked: $ests")
      for ((t, est) <- ests) {
        assert(est <= truth(t), s"$t overcounted: $est > ${truth(t)}")
        assert(truth(t) <= est + n / 3, s"$t undercount beyond eps: $est vs ${truth(t)}")
      }
      // the dominant item must survive eviction (freq > N/(k+1))
      assert(ests.contains("alpha"))
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("state string encoding round-trips items containing the separator") {
    // the ValueState payload is "token:count,..." with lastIndexOf(':')
    // parsing — an item carrying ':' itself must survive a re-read
    val p = new TextStream.HeavyHittersProcessor(4)
    val enc = classOf[TextStream.HeavyHittersProcessor]
      .getDeclaredMethod("encode", classOf[Map[String, Long]])
    val dec = classOf[TextStream.HeavyHittersProcessor]
      .getDeclaredMethod("decode", classOf[String])
    enc.setAccessible(true); dec.setAccessible(true)
    val m = Map("a:b" -> 3L, "plain" -> 1L, "x:y:z" -> 7L)
    val round = dec.invoke(p, enc.invoke(p, m)).asInstanceOf[Map[String, Long]]
    assert(round == m)
  }
}
