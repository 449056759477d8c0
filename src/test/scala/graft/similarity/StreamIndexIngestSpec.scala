package graft.similarity

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Exactly-once streaming index ingest: deltas drain through the
  * checkpointed foreachBatch path, a mid-stream crash is injected after
  * the first committed batch, and the RESTARTED stream must complete the
  * index with no duplicated and no dropped codes — the final code table
  * equals the one-shot batch build's exactly. Pins the idempotent
  * batch-scoped-overwrite construction `streamAppendToPqIndex` uses. */
class StreamIndexIngestSpec extends SparkSpec {

  import spark.implicits._

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  private def corpus(n: Int, dim: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0L until n).map(i => (i, unit(Array.fill(dim)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
  }

  test("restart after a mid-ingest kill appends no duplicate codes") {
    val df = corpus(300, 16, seed = 23L).cache()
    try {
      val cbs = ProductQuant.trainedCodebooks(df, m = 4, k = 8, seed = 7L, sampleSize = 300)
      // one-shot reference build over the full corpus
      val full = graft.util.Scratch.dir("ingest-full").toString
      IndexStore.writePqIndex(df, full, m = 4, kCent = 8, seed = 7L, sampleSize = 300,
        codebooks = cbs)

      // streamed build: base over the first half, 3 delta files for the rest
      val inc = graft.util.Scratch.dir("ingest-inc").toString
      IndexStore.writePqIndex(df.filter($"vec_id" < 150), inc,
        m = 4, kCent = 8, seed = 7L, sampleSize = 300, codebooks = cbs)
      val drop = graft.util.Scratch.dir("ingest-drop").toString
      for (slice <- 0 until 3)
        df.filter($"vec_id" >= 150 && $"vec_id" % 3 === slice)
          .coalesce(1).write.mode("overwrite").parquet(s"$drop/slice$slice")
      val ckpt = graft.util.Scratch.dir("ingest-ckpt").toString
      val schema = df.schema

      // run 1: the ingest sink itself throws before batch 1 writes —
      // batch 0's delta directory is committed, batch 1's offsets are not
      def ingest(kill: Boolean) = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$drop/*")
        val cbsRead = IndexStore.readCodebooks(spark, inc)
        stream.writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            if (kill && batchId >= 1)
              throw new RuntimeException("injected mid-ingest failure")
            batch
              .select(col("vec_id").as("neighbor_id"),
                ProductQuant.encodeCol(col("embedding"), cbsRead).as("codes"))
              .write.mode("overwrite").parquet(s"$inc/codes/delta-$batchId")
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        ingest(kill = true).awaitTermination()
      }
      val afterCrash = IndexStore.readCodes(spark, inc).count()
      assert(afterCrash < 300, s"crash must leave the ingest incomplete (saw $afterCrash codes)")

      // run 2: same checkpoint — remaining batches drain; batch-scoped
      // overwrite makes any replay idempotent
      val q2 = ingest(kill = false)
      try q2.awaitTermination()
      finally q2.stop()

      val streamed = IndexStore.readCodes(spark, inc)
        .orderBy("neighbor_id").as[(Long, Seq[Int])].collect().toSeq
      val oneShot = IndexStore.readCodes(spark, full)
        .orderBy("neighbor_id").as[(Long, Seq[Int])].collect().toSeq
      assert(streamed.map(_._1).distinct.size == 300, "every id exactly once")
      assert(streamed == oneShot, "streamed index must equal the one-shot build")

      // compaction: delta dirs collapse into fresh files, codes and
      // served results identical
      val q = df.filter($"vec_id" < 3)
      val servedBefore = IndexStore.servePqTopK(q, df, inc, k = 5, shortlistK = 20)
        .orderBy("query_id", "rank").collect().toSeq
      IndexStore.compactPqIndex(spark, inc, targetFiles = 2)
      // the LIVE tree (manifest-resolved — compaction versions it) holds
      // no delta subdirectories; the superseded tree lingers one grace
      // cycle by design and is invisible to readers
      val codesDir = java.nio.file.Paths.get(
        graft.util.ArtifactTree.resolve(spark, inc, "codes"))
      assert(java.nio.file.Files.list(codesDir).iterator().asScala
        .forall(p => !p.getFileName.toString.startsWith("delta-")),
        "compaction must remove delta subdirectories from the live tree")
      val compacted = IndexStore.readCodes(spark, inc)
        .orderBy("neighbor_id").as[(Long, Seq[Int])].collect().toSeq
      assert(compacted == oneShot, "compaction must preserve every code")
      val servedAfter = IndexStore.servePqTopK(q, df, inc, k = 5, shortlistK = 20)
        .orderBy("query_id", "rank").collect().toSeq
      assert(servedAfter == servedBefore, "serving must be unchanged by compaction")
    } finally { df.unpersist(); () }
  }

  test("persisted IVFADC index serves bit-identical to the in-session path, cell-pruned") {
    val df = corpus(400, 16, seed = 29L).cache()
    try {
      val queries = df.filter($"vec_id" < 4)
      val cents = Similarity.trainedCentroids(df, nCells = 8, seed = 5L, sampleSize = 400)
      val cbs = IvfPq.trainedResidualCodebooks(df, cents, m = 4, k = 8, seed = 5L, sampleSize = 400)
      val inSession = IvfPq.ivfPqTopK(queries, df, k = 5, nCells = 8, nProbe = 2,
          m = 4, kCent = 8, seed = 5L, sampleSize = 400,
          coarseCentroids = cents, residCodebooks = cbs)
        .orderBy("query_id", "rank").collect().toSeq

      val dir = graft.util.Scratch.dir("ivf-index").toString
      IndexStore.writeIvfPqIndex(df, dir, nCells = 8, m = 4, kCent = 8, seed = 5L,
        sampleSize = 400, coarseCentroids = cents, residCodebooks = cbs)
      // cell-partitioned layout on disk
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir, "ivf_codes"))
        .iterator().asScala.exists(_.getFileName.toString.startsWith("cell=")))

      val servedDf = IndexStore.serveIvfPqTopK(queries, dir, k = 5, nProbe = 2)
      val served = servedDf.orderBy("query_id", "rank").collect().toSeq
      assert(served == inSession, "served IVFADC must equal the in-session ranking")

      val plan = servedDf.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("pq_encode_resid"),
        "serving must read stored codes, not re-encode")
      // the probe join dynamically prunes unprobed cell partitions
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"expected dynamic partition pruning on the cell-partitioned codes scan:\n$plan")
    } finally { df.unpersist(); () }
  }

  test("persisted OPQ x IVF index serves bit-identical to the in-session composed stack") {
    val df = corpus(400, 16, seed = 41L).cache()
    try {
      val queries = df.filter($"vec_id" < 4)
      val (rot, _) = Opq.trainedRotation(df, m = 4, k = 8, seed = 5L, sampleSize = 400, iters = 4)
      val rotAll = df.select($"vec_id", Opq.rotateCol($"embedding", rot).as("embedding"))
      val cents = Similarity.trainedCentroids(rotAll, nCells = 8, seed = 5L, sampleSize = 400)
      val cbs = IvfPq.trainedResidualCodebooks(rotAll, cents, m = 4, k = 8, seed = 5L, sampleSize = 400)
      val inSession = IvfPq.ivfPqTopK(
          rotAll.filter($"vec_id" < 4), rotAll, k = 5, nCells = 8, nProbe = 2,
          m = 4, kCent = 8, seed = 5L, sampleSize = 400,
          coarseCentroids = cents, residCodebooks = cbs)
        .orderBy("query_id", "rank").collect().toSeq
      val dir = graft.util.Scratch.dir("opqivf").toString
      IndexStore.writeOpqIvfIndex(df, dir, rot, cents, cbs)
      val served = IndexStore.serveOpqIvfTopK(queries, dir, k = 5, nProbe = 2)
        .orderBy("query_id", "rank").collect().toSeq
      assert(served.nonEmpty && served == inSession)
    } finally { df.unpersist(); () }
  }

  test("IVF delta append with persisted artifacts equals the one-shot build") {
    val df = corpus(400, 16, seed = 31L).cache()
    try {
      val queries = df.filter($"vec_id" < 4)
      val cents = Similarity.trainedCentroids(df, nCells = 8, seed = 5L, sampleSize = 400)
      val cbs = IvfPq.trainedResidualCodebooks(df, cents, m = 4, k = 8, seed = 5L, sampleSize = 400)
      val full = graft.util.Scratch.dir("ivf-full").toString
      IndexStore.writeIvfPqIndex(df, full, nCells = 8, m = 4, kCent = 8, seed = 5L,
        sampleSize = 400, coarseCentroids = cents, residCodebooks = cbs)
      val inc = graft.util.Scratch.dir("ivf-inc").toString
      IndexStore.writeIvfPqIndex(df.filter($"vec_id" < 200), inc, nCells = 8, m = 4,
        kCent = 8, seed = 5L, sampleSize = 400, coarseCentroids = cents, residCodebooks = cbs)
      IndexStore.appendToIvfPqIndex(df.filter($"vec_id" >= 200), inc)
      val a = IndexStore.serveIvfPqTopK(queries, full, k = 5, nProbe = 2)
        .orderBy("query_id", "rank").collect().toSeq
      val b = IndexStore.serveIvfPqTopK(queries, inc, k = 5, nProbe = 2)
        .orderBy("query_id", "rank").collect().toSeq
      assert(a.nonEmpty && a == b, "appended IVF index must serve identically to one-shot")
    } finally { df.unpersist(); () }
  }
}
