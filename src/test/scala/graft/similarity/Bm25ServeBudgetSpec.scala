package graft.similarity

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The serve's fixed cost scales with the query, not with the index: a
  * warm serve runs the same number of Spark jobs whether the index has
  * 16 or 256 posting buckets (no tree-sized file-listing job), its
  * generated code does not depend on the query's idf values, and the
  * per-file-state metadata memo stays bounded while one store goes
  * through many append → serve → delete → compact cycles. */
class Bm25ServeBudgetSpec extends SparkSpec {

  /** 120 docs over 300 distinct words: a 256-bucket index has far more
    * than 32 bucket directories, Spark's parallel-listing threshold, so
    * listing the whole tree would cost a job of its own. */
  private def corpus: DataFrame = {
    import spark.implicits._
    (0L until 120L).map { i =>
      (i, (0 until 12).map(j => s"w${(i * 7 + j * 13) % 300}").mkString(" ") + " common")
    }.toDF("doc_id", "text")
  }

  private def newIndex(docs: DataFrame, nBuckets: Int): String = {
    val dir = graft.util.Scratch.dir("bm25-budget").toString
    Bm25IndexStore.writeBm25Index(docs, dir, "text", "doc_id", nBuckets = nBuckets)
    dir
  }

  /** Jobs started by `body` on this thread (and the threads it spawns). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"bm25-budget-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    org.apache.spark.graftspec.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "bm25 serve job budget")
      try body finally sc.clearJobGroup()
      org.apache.spark.graftspec.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  private val Terms = Seq("w3", "w50", "w101")

  test("warm serve job counts do not depend on n_buckets; per-call serve runs <= 3 jobs") {
    import spark.implicits._
    val batch = Seq((1L, Seq("w3", "w50")), (2L, Seq("w101", "w7", "common")))
      .toDF("query_id", "terms")
    def budget(nBuckets: Int): (Int, Int) = {
      val dir = newIndex(corpus, nBuckets)
      def perCall() = Bm25IndexStore.serveBm25TopK(spark, dir, Terms, k = 10).collect()
      def batched() = Bm25IndexStore.serveBm25TopKBatch(batch, dir, k = 10).collect()
      perCall(); batched() // warm: the memo misses once per file state
      (jobsOf(perCall()), jobsOf(batched()))
    }
    val (perCall16, batch16) = budget(16)
    val (perCall256, batch256) = budget(256)
    info(s"warm serve jobs: per-call $perCall16 / $perCall256, " +
      s"batched $batch16 / $batch256 (nBuckets 16 / 256)")
    assert(perCall16 == perCall256, "a per-call serve's job count must not grow with n_buckets")
    assert(batch16 == batch256, "a batched serve's job count must not grow with n_buckets")
    assert(perCall16 <= 3, s"per-call serve ran $perCall16 jobs")
    assert(batch16 <= 10, s"batched serve ran $batch16 jobs")
  }

  test("a warm engaged MaxScore batch runs <= 20 jobs, the same at 16 and 256 buckets") {
    import spark.implicits._
    // 'the' in all 60 docs (hot at pruneDf = 30), six topic words in 10
    // docs each (essential): q1 and q5 pass the pruning proof
    val hotCorpus = (0L until 60L).map(i => (i, s"the w${i % 6} filler$i the tail"))
      .toDF("doc_id", "text")
    val batch = Seq((1L, Seq("the", "w1")), (5L, Seq("the", "w4", "w5")))
      .toDF("query_id", "terms")
    def engaged(nBuckets: Int): Int = {
      val dir = newIndex(hotCorpus, nBuckets)
      def serve() = Bm25IndexStore
        .serveBm25TopKBatch(batch, dir, k = 3, roundTo = 6, pruneDf = 30L).collect()
      serve()
      val before = Bm25IndexStore.ServeProbe.queryTermCollects.get()
      val jobs = jobsOf(serve())
      assert(Bm25IndexStore.ServeProbe.queryTermCollects.get() == before + 1,
        "the batch must take the MaxScore route")
      jobs
    }
    val (at16, at256) = (engaged(16), engaged(256))
    info(s"warm engaged batch jobs: $at16 / $at256 (nBuckets 16 / 256)")
    assert(at16 == at256, "an engaged batch's job count must not grow with n_buckets")
    assert(at16 <= 20, s"engaged batch ran $at16 jobs")
  }

  test("warm per-call serves with fresh terms compile no new classes") {
    val dir = newIndex(corpus, 16)
    def serve(terms: Seq[String]) =
      Bm25IndexStore.serveBm25TopK(spark, dir, terms, k = 10, roundTo = 6).collect()
    serve(Terms); serve(Seq("w8", "w77", "w140")) // warm: the plan shape compiles once
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val before = compiles.getCount
    // same term count, fresh terms: per-query idf values differ every call
    for (i <- 0 until 5) serve(Seq(s"w${20 + i}", s"w${120 + i}", s"w${220 + i}"))
    val added = compiles.getCount - before
    info(s"codegen compiles over 5 warm serves with fresh terms: $added")
    assert(added == 0, s"warm serves compiled $added new classes")
  }

  test("20 append -> serve -> delete -> compact cycles leave the metadata memo flat") {
    import spark.implicits._
    val dir = newIndex(corpus, 16)
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (c <- 1 to 20) {
      val ids = (0L until 4L).map(j => 1000L * c + j)
      Bm25IndexStore.appendToBm25Index(
        ids.map(i => (i, s"w3 fresh$c w${i % 300}")).toDF("doc_id", "text"),
        dir, batchId = s"cycle-$c")
      Bm25IndexStore.serveBm25TopK(spark, dir, Terms, k = 10).collect()
      Bm25IndexStore.deleteFromBm25Index(Seq(ids.head).toDF("doc_id"), dir)
      Bm25IndexStore.compactBm25Index(spark, dir, targetFiles = 2)
      sizes += graft.util.SchemaMemo.entriesUnder(dir)
    }
    info(s"memo entries under the store after each cycle: ${sizes.mkString(",")}")
    assert(sizes.drop(2).distinct.length == 1, s"memo grew: ${sizes.mkString(",")}")

    // and the memoized store still serves exactly what it holds
    val live = corpus.unionByName((1 to 20).flatMap(c =>
      (1L until 4L).map(j => (1000L * c + j, s"w3 fresh$c w${(1000L * c + j) % 300}")))
      .toDF("doc_id", "text"))
    assert(Bm25IndexStore.serveBm25TopK(spark, dir, Terms, k = 10, roundTo = 6)
      .collect().toSeq ==
      Bm25.search(live, "text", "doc_id", Terms, k = 10, roundTo = 6).collect().toSeq)
  }
}
