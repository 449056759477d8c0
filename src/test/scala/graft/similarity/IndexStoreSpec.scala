package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persist-and-serve contract: build writes the two artifacts, the
  * serving path reproduces the in-session pipeline bit-for-bit, and the
  * served plan contains neither training nor an encode scan. */
class IndexStoreSpec extends SparkSpec {

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

  test("CellsAuto derives the cell count from the corpus (cells ∝ corpus, floor 8)") {
    // the derivation, spec-pinned: ceil(n / TargetCellRows) floored at
    // the historical default of 8 — the documented SCALING.md rule the
    // r18 batch-512 probe OOM validated (8 cells over 600k vectors)
    assert(IndexStore.derivedCells(0L) == 8)
    assert(IndexStore.derivedCells(2000L) == 8)     // sf0.01 embeddings: unchanged geometry
    assert(IndexStore.derivedCells(40000L) == 8)    // the floor's edge
    assert(IndexStore.derivedCells(40001L) == 9)    // ceil, not floor
    assert(IndexStore.derivedCells(100000L) == 20)
    assert(IndexStore.derivedCells(600000L) == 120) // the r18 probe corpus
    intercept[IllegalArgumentException] {
      IndexStore.writeIvfPqIndex(corpus(10, 8, 1L),
        graft.util.Scratch.dir("ivf-auto-bad").toString, nCells = 0)
    }

    // end-to-end: the zero-config build lands derivedCells(n) coarse
    // centroids and serves identically to the same-geometry explicit build
    val df = corpus(300, 16, seed = 23L)
    val auto = graft.util.Scratch.dir("ivf-auto").toString
    IndexStore.writeIvfPqIndex(df, auto, m = 4, kCent = 8, seed = 7L, sampleSize = 300)
    val explicit = graft.util.Scratch.dir("ivf-expl").toString
    IndexStore.writeIvfPqIndex(df, explicit, nCells = 8, m = 4, kCent = 8, seed = 7L,
      sampleSize = 300)
    assert(spark.read.parquet(s"$auto/coarse").count() == IndexStore.derivedCells(300L))
    val q = df.filter($"vec_id" < 3)
    def serve(d: String) = IndexStore.serveIvfPqTopK(q, d, k = 5, nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(serve(auto) == serve(explicit) && serve(auto).nonEmpty)
  }

  test("served top-k equals the in-session ADC+rerank pipeline exactly") {
    val df = corpus(300, 16, seed = 11L)
    val queries = df.filter($"vec_id" < 4)
    val dir = graft.util.Scratch.dir("indexstore").toString
    IndexStore.writePqIndex(df, dir, m = 4, kCent = 8, seed = 7L, sampleSize = 300)
    val served = IndexStore.servePqTopK(queries, df, dir, k = 5, shortlistK = 20)
      .orderBy("query_id", "rank").collect().toSeq
    val inSession = ProductQuant.pqTopKRerank(queries, df, k = 5, shortlistK = 20,
        m = 4, kCent = 8, seed = 7L, sampleSize = 300)
      .orderBy("query_id", "rank").collect().toSeq
    assert(served == inSession)
  }

  test("codebooks round-trip the [m][k][dsub] layout through parquet") {
    val df = corpus(200, 16, seed = 13L)
    val cbs = ProductQuant.trainedCodebooks(df, m = 4, k = 8, seed = 3L, sampleSize = 200)
    val dir = graft.util.Scratch.dir("indexstore").toString
    IndexStore.writePqIndex(df, dir, m = 4, kCent = 8, seed = 3L, sampleSize = 200, codebooks = cbs)
    val back = IndexStore.readCodebooks(spark, dir)
    assert(back.map(_.map(_.toSeq).toSeq).toSeq == cbs.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("append encodes deltas with the persisted codebooks — equals the one-shot build") {
    val df = corpus(300, 16, seed = 19L)
    val cbs = ProductQuant.trainedCodebooks(df, m = 4, k = 8, seed = 7L, sampleSize = 300)
    val full = graft.util.Scratch.dir("indexstore").toString
    IndexStore.writePqIndex(df, full, m = 4, kCent = 8, seed = 7L, sampleSize = 300, codebooks = cbs)
    val inc = graft.util.Scratch.dir("indexstore").toString
    IndexStore.writePqIndex(df.filter($"vec_id" < 150), inc,
      m = 4, kCent = 8, seed = 7L, sampleSize = 300, codebooks = cbs)
    IndexStore.appendToPqIndex(df.filter($"vec_id" >= 150), inc)
    val q = df.filter($"vec_id" < 3)
    val a = IndexStore.servePqTopK(q, df, full, k = 5, shortlistK = 20)
      .orderBy("query_id", "rank").collect().toSeq
    val b = IndexStore.servePqTopK(q, df, inc, k = 5, shortlistK = 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a == b)
  }

  test("compaction recovers from a crashed prior compaction in either half-state") {
    val df = corpus(200, 16, seed = 23L)
    val dir = graft.util.Scratch.dir("indexstore").toString
    IndexStore.writePqIndex(df, dir, m = 4, kCent = 8, seed = 3L, sampleSize = 200)
    val q = df.filter($"vec_id" < 3)
    val expected = IndexStore.servePqTopK(q, df, dir, k = 5, shortlistK = 20)
      .orderBy("query_id", "rank").collect().toSeq
    val root = java.nio.file.Paths.get(dir)
    val codes = root.resolve("codes")
    val pre = root.resolve("codes_precompact")

    // half-state A: crash AFTER the swap — codes is the new tree, the
    // old tree lingers as codes_precompact garbage. Compaction must
    // clean it and succeed.
    java.nio.file.Files.createDirectory(pre)
    java.nio.file.Files.write(pre.resolve("stale.parquet"), Array[Byte](1, 2, 3))
    IndexStore.compactPqIndex(spark, dir, targetFiles = 2)
    assert(!java.nio.file.Files.exists(pre), "stale precompact garbage must be cleaned")
    val afterA = IndexStore.servePqTopK(q, df, dir, k = 5, shortlistK = 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(afterA == expected)

    // half-state B: a PRE-MANIFEST run crashed MID-swap — the plain
    // codes tree was renamed away and codes_precompact holds the only
    // copy (modeled on a FRESH dir: manifest compactions never rename,
    // so this half-state can only be inherited from the legacy layout).
    // Compaction must restore it before compacting into the versioned
    // layout.
    val dirB = graft.util.Scratch.dir("indexstore-b").toString
    IndexStore.writePqIndex(df, dirB, m = 4, kCent = 8, seed = 3L, sampleSize = 200)
    val rootB = java.nio.file.Paths.get(dirB)
    java.nio.file.Files.move(rootB.resolve("codes"), rootB.resolve("codes_precompact"))
    assert(!java.nio.file.Files.exists(rootB.resolve("codes")))
    IndexStore.compactPqIndex(spark, dirB, targetFiles = 2)
    assert(!java.nio.file.Files.exists(rootB.resolve("codes_precompact")))
    val afterB = IndexStore.servePqTopK(q, df, dirB, k = 5, shortlistK = 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(afterB == expected)
  }

  test("deleted vectors leave served results exactly as a rebuild without them") {
    val df = corpus(300, 16, seed = 29L)
    val cbs = ProductQuant.trainedCodebooks(df, m = 4, k = 8, seed = 7L, sampleSize = 300)
    val dir = graft.util.Scratch.dir("indexstore-del").toString
    IndexStore.writePqIndex(df, dir, m = 4, kCent = 8, seed = 7L, sampleSize = 300, codebooks = cbs)
    IndexStore.deleteFromIndex(df.filter($"vec_id" % 5 === 1).select("vec_id"), dir)

    val rebuilt = graft.util.Scratch.dir("indexstore-del-rb").toString
    IndexStore.writePqIndex(df.filter($"vec_id" % 5 =!= 1), rebuilt,
      m = 4, kCent = 8, seed = 7L, sampleSize = 300, codebooks = cbs)

    val q = df.filter($"vec_id" < 4)
    def serve(d: String) = IndexStore.servePqTopK(q, df, d, k = 5, shortlistK = 20)
      .orderBy("query_id", "rank").collect().toSeq
    val afterDelete = serve(dir)
    assert(afterDelete == serve(rebuilt),
      "exclusion must happen BEFORE top-k selection — tombstoned codes may not occupy shortlist slots")
    assert(afterDelete.nonEmpty && !afterDelete.exists(_.getLong(1) % 5 == 1))

    // re-append while the tombstone is live: still excluded (lifecycle contract)
    IndexStore.appendToPqIndex(df.filter($"vec_id" % 5 === 1), dir)
    assert(serve(dir) == afterDelete)

    // compaction folds the drop in physically and clears the tombstones;
    // the re-appended rows above go with them (their ids were tombstoned)
    val before = IndexStore.readCodes(spark, dir).count()
    IndexStore.compactPqIndex(spark, dir, targetFiles = 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "tombstones")))
    assert(IndexStore.readCodes(spark, dir).count() < before, "tombstoned codes must leave the table")
    assert(serve(dir) == afterDelete, "compaction must not change served results")

    // after compaction the id generation is reusable: append restores serving
    IndexStore.appendToPqIndex(df.filter($"vec_id" % 5 === 1), dir)
    assert(serve(dir) == serve(graft.util.Scratch.dir("indexstore-del-full").toString match {
      case full => IndexStore.writePqIndex(df, full, m = 4, kCent = 8, seed = 7L, sampleSize = 300, codebooks = cbs); full
    }))
  }

  test("IVF serving honors deletes and cell-partitioned compaction preserves the layout") {
    val df = corpus(300, 16, seed = 31L)
    val cents = Similarity.trainedCentroids(df, "vec_id", "embedding", 4, 7L, 300)
    val cbs = IvfPq.trainedResidualCodebooks(df, cents, "vec_id", "embedding", 4, 8, 7L, 300)
    val dir = graft.util.Scratch.dir("indexstore-ivfdel").toString
    IndexStore.writeIvfPqIndex(df, dir, nCells = 4, m = 4, kCent = 8,
      coarseCentroids = cents, residCodebooks = cbs)
    IndexStore.deleteFromIndex(df.filter($"vec_id" % 5 === 1).select("vec_id"), dir)

    val rebuilt = graft.util.Scratch.dir("indexstore-ivfdel-rb").toString
    IndexStore.writeIvfPqIndex(df.filter($"vec_id" % 5 =!= 1), rebuilt, nCells = 4, m = 4, kCent = 8,
      coarseCentroids = cents, residCodebooks = cbs)

    val q = df.filter($"vec_id" < 4)
    def serve(d: String) = IndexStore.serveIvfPqTopK(q, d, k = 5, nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val afterDelete = serve(dir)
    assert(afterDelete == serve(rebuilt) && afterDelete.nonEmpty)

    IndexStore.compactIvfIndex(spark, dir, targetFiles = 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "tombstones")))
    import scala.jdk.CollectionConverters._
    val subdirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "ivf_codes"))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(subdirs.exists(_.startsWith("cell=")),
      s"compaction must preserve the cell= partition directories, got $subdirs")
    assert(serve(dir) == afterDelete, "IVF compaction must not change served results")
  }

  test("describeIvfIndex: per-cell counts cover every code; tombstones tallied; compaction zeroes debt") {
    val df = corpus(300, 16, seed = 41L)
    val cents = Similarity.trainedCentroids(df, "vec_id", "embedding", 4, 7L, 300)
    val cbs = IvfPq.trainedResidualCodebooks(df, cents, "vec_id", "embedding", 4, 8, 7L, 300)
    val dir = graft.util.Scratch.dir("indexstore-stats").toString
    IndexStore.writeIvfPqIndex(df, dir, nCells = 4, m = 4, kCent = 8,
      coarseCentroids = cents, residCodebooks = cbs)

    def stats() = IndexStore.describeIvfIndex(spark, dir)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    val clean = stats()
    assert(clean.map(_._2).sum == 300L, "every code counted exactly once")
    assert(clean.forall(_._3 == 0L), "no tombstones yet")

    IndexStore.deleteFromIndex(df.filter($"vec_id" % 5 === 1).select("vec_id"), dir)
    val deleted = stats()
    assert(deleted.map(_._2) == clean.map(_._2), "deletes are logical — physical counts unchanged")
    assert(deleted.map(_._3).sum == df.filter($"vec_id" % 5 === 1).count(),
      "takedown debt equals the tombstoned id count")

    IndexStore.compactIvfIndex(spark, dir, targetFiles = 2)
    val compacted = stats()
    assert(compacted.map(_._2).sum == 300L - deleted.map(_._3).sum,
      "compaction removes exactly the tombstoned codes")
    assert(compacted.forall(_._3 == 0L), "compaction clears the debt")
  }

  test("delete-aware IVF serving keeps cell pruning and never shuffles a join side") {
    val df = corpus(300, 16, seed = 37L)
    val cents = Similarity.trainedCentroids(df, "vec_id", "embedding", 4, 7L, 300)
    val cbs = IvfPq.trainedResidualCodebooks(df, cents, "vec_id", "embedding", 4, 8, 7L, 300)
    val dir = graft.util.Scratch.dir("indexstore-delplan").toString
    IndexStore.writeIvfPqIndex(df, dir, nCells = 4, m = 4, kCent = 8,
      coarseCentroids = cents, residCodebooks = cbs)
    IndexStore.deleteFromIndex(df.filter($"vec_id" % 5 === 1).select("vec_id"), dir)
    val served = IndexStore.serveIvfPqTopK(df.filter($"vec_id" < 4), dir, k = 5, nProbe = 2)
      .queryExecution.executedPlan
    val plan = served.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the tombstone anti-join must not demote serving to a shuffle join:\n$plan")
    assert(graft.ScanPaths.count(served, "tombstones") == 1,
      s"tombstones/ must scan once:\n$plan")
    // the dynamicpruning pin lives in PlanShapeSpec over sf0.01 — DPP is
    // stats-gated and does not fire on this 300-row fixture even
    // without deletes, so asserting it here would pin the wrong thing
  }

  test("the served plan reads the persisted codes and never re-encodes or trains") {
    val df = corpus(200, 16, seed = 17L)
    val dir = graft.util.Scratch.dir("indexstore").toString
    IndexStore.writePqIndex(df, dir, m = 4, kCent = 8, seed = 3L, sampleSize = 200)
    val served = IndexStore.servePqTopK(df.filter($"vec_id" < 2), df, dir, k = 3, shortlistK = 10)
    // the persisted codes table appears as a parquet scan leaf...
    val leaves = served.queryExecution.sparkPlan.collectLeaves().map(_.toString)
    assert(leaves.exists(l => l.contains("parquet") && l.contains("codes")),
      s"serving must scan the persisted codes table; leaves=\n${leaves.mkString("\n")}")
    // ...and nothing in the plan re-encodes (codes come from the index)
    val plan = served.queryExecution.sparkPlan.toString
    assert(!plan.toLowerCase.contains("pqencode"),
      "serving must not re-encode the corpus — codes come from the index")
  }
}
