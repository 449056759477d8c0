package graft

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The empty-delta append is a NO-OP on every persisted store — the
  * unit-level pin behind q_daily_pipeline_day2's oracle claim: a day-2
  * re-delivery whose diff yields zero fresh docs flows the empty
  * survivor set through each store's REAL append path, and the store
  * must read back exactly as it was. Directly exercises the
  * empty-parquet round trips (an empty dump/delta dir must stay
  * readable) that a short-circuit would never touch. */
class StoreEmptyAppendSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    (1L to 30L).map(i => (i, s"alpha beta w$i gamma " + ("x" * (i % 4).toInt)))
      .toDF("doc_id", "text")
  }

  private def emptyDocs = docs.filter(col("doc_id") < 0)

  test("BM25 store: empty append leaves stats and serving unchanged") {
    val dir = graft.util.Scratch.dir("empty-bm25").toString
    graft.similarity.Bm25IndexStore.writeBm25Index(docs, dir, "text", "doc_id", nBuckets = 8)
    def state() = (
      graft.similarity.Bm25IndexStore.describeBm25Index(spark, dir).collect().toSeq,
      graft.similarity.Bm25IndexStore
        .serveBm25TopK(spark, dir, Seq("alpha", "beta"), k = 5, roundTo = 6)
        .collect().toSeq)
    val before = state()
    graft.similarity.Bm25IndexStore
      .appendToBm25Index(emptyDocs, dir, "text", "doc_id", batchId = "empty")
    assert(state() == before)
  }

  test("dedup store: empty append leaves stats and probing unchanged") {
    val dir = graft.util.Scratch.dir("empty-dedup").toString
    graft.dedup.DedupIndexStore.writeDedupIndex(
      docs, dir, "text", "doc_id", numHashes = 16, shingleSize = 3, bands = 8, seed = 5L)
    def state() = (
      graft.dedup.DedupIndexStore.describeDedupIndex(spark, dir).collect().toSeq,
      graft.dedup.DedupIndexStore
        .probeDedupIndex(docs.limit(3), dir, "text", "doc_id", threshold = 0.1)
        .collect().toSeq.sortBy(_.toString))
    val before = state()
    graft.dedup.DedupIndexStore
      .appendToDedupIndex(emptyDocs, dir, "text", "doc_id", batchId = "empty")
    assert(state() == before)
  }

  test("ANN store: empty append leaves cell stats and serving unchanged") {
    import spark.implicits._
    val vecs = (1L to 40L)
      .map(i => (i, Array.tabulate(4)(d => ((i * (d + 3)) % 7).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val dir = graft.util.Scratch.dir("empty-ann").toString
    graft.similarity.IndexStore.writeIvfPqIndex(vecs, dir, nCells = 2, m = 2, kCent = 4, seed = 3L)
    def state() = (
      graft.similarity.IndexStore.describeIvfIndex(spark, dir).collect().toSeq,
      graft.similarity.IndexStore
        .serveIvfPqTopK(vecs.filter($"vec_id" < 3), dir, k = 5, nProbe = 2)
        .collect().toSeq.sortBy(_.toString))
    val before = state()
    graft.similarity.IndexStore.appendToIvfPqIndex(vecs.filter($"vec_id" < 0), dir)
    assert(state() == before)
  }
}
