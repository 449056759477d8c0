package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persist-and-probe dedup contract: a probe against the stored
  * index must equal the in-session near-dup computation restricted to
  * cross (probe × indexed) pairs; appends (batch and streaming, incl.
  * crash-replay) must be indistinguishable from a one-shot build; the
  * bucket cap must drop oversized buckets whole; and the probe plan
  * must never shuffle a corpus-sized artifact (all joins broadcast,
  * each artifact scanned exactly once). */
class DedupIndexStoreSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  private val Thresh = 0.125
  private def tmp(name: String) =
    graft.util.Scratch.dir(name).toString

  private def buildCfg(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    DedupIndexStore.writeDedupIndex(df, path, "text", "doc_id",
      numHashes = 32, shingleSize = 3, bands = 32, seed = 42L)

  private def probeSet(df: org.apache.spark.sql.DataFrame, path: String) =
    DedupIndexStore.probeDedupIndex(df, path, "text", "doc_id", threshold = Thresh)
      .select(col("id_new"), col("id_indexed"), round(col("est_jaccard"), 6).as("est"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, e) => (math.min(a, b), math.max(a, b), e) }.toSet

  test("probe equals the in-session near-dup computation on cross pairs") {
    val indexed = docs.filter($"doc_id" % 3 =!= 0)
    val probes = docs.filter($"doc_id" % 3 === 0)
    val path = tmp("dedupidx")
    buildCfg(indexed, path)

    val got = probeSet(probes, path)

    val probeIds = probes.select("doc_id").as[Long].collect().toSet
    val expected = Dedup
      .nearDuplicates(docs, "text", "doc_id",
        numHashes = 32, shingleSize = 3, bands = 32, threshold = Thresh, seed = 42L)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est"))
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => probeIds.contains(a) ^ probeIds.contains(b) }
      .map { case (a, b, e) => (math.min(a, b), math.max(a, b), e) }.toSet

    assert(got == expected)
    assert(got.nonEmpty, "fixture must exercise at least one cross near-dup")
  }

  test("append is indistinguishable from a one-shot build") {
    val oneShot = tmp("dedupidx-one")
    buildCfg(docs.filter($"doc_id" % 3 =!= 0), oneShot)

    val inc = tmp("dedupidx-inc")
    buildCfg(docs.filter($"doc_id" % 3 === 1), inc)
    DedupIndexStore.appendToDedupIndex(
      docs.filter($"doc_id" % 3 === 2), inc, "text", "doc_id")

    val probes = docs.filter($"doc_id" % 3 === 0)
    assert(probeSet(probes, inc) == probeSet(probes, oneShot))
  }

  test("append retried with the same batchId is idempotent") {
    val oneShot = tmp("dedupidx-one2")
    buildCfg(docs.filter($"doc_id" % 3 =!= 0), oneShot)
    val inc = tmp("dedupidx-retry")
    buildCfg(docs.filter($"doc_id" % 3 === 1), inc)
    val delta = docs.filter($"doc_id" % 3 === 2)
    DedupIndexStore.appendToDedupIndex(delta, inc, "text", "doc_id", batchId = "retry-me")
    // the blind retry after a presumed crash: same batch id rewrites the
    // same subdirectories — no duplicate signature or band rows, so probe
    // output pairs are not multiplied
    DedupIndexStore.appendToDedupIndex(delta, inc, "text", "doc_id", batchId = "retry-me")
    assert(DedupIndexStore.readSignatures(spark, inc).count() ==
      DedupIndexStore.readSignatures(spark, oneShot).count(),
      "retried append must not duplicate signature rows")
    val probes = docs.filter($"doc_id" % 3 === 0)
    assert(probeSet(probes, inc) == probeSet(probes, oneShot))
  }

  test("oversized buckets are dropped whole at probe time") {
    val same = "the quick brown fox jumps over the lazy dog again and again"
    val indexed = ((1L to 6L).map(i => (i, same)) :+ (7L -> "completely unrelated content"))
      .toDF("doc_id", "text")
    val probe = Seq((100L, same)).toDF("doc_id", "text")
    val path = tmp("dedupidx-cap")
    buildCfg(indexed, path)

    def hits(maxBucket: Int) =
      DedupIndexStore.probeDedupIndex(probe, path, "text", "doc_id",
        threshold = 0.9, maxBucket = maxBucket)
        .select("id_indexed").as[Long].collect().toSet

    // identical docs land every copy in one bucket per band: size 6
    assert(hits(maxBucket = 5) == Set.empty[Long], "bucket over cap must vanish whole")
    assert(hits(maxBucket = 6) == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("streaming ingest lands exactly once across a mid-stream crash") {
    val oneShot = tmp("dedupidx-sone")
    buildCfg(docs.filter($"doc_id" % 3 =!= 0), oneShot)

    val inc = tmp("dedupidx-sinc")
    buildCfg(docs.filter($"doc_id" % 3 === 1), inc)

    // the %3==2 delta staged as three files → three micro-batches
    val drop = tmp("dedupidx-drop")
    for (slice <- 0 until 3)
      docs.filter($"doc_id" % 3 === 2 && $"doc_id" % 9 === (2 + 3 * slice))
        .coalesce(1).write.mode("overwrite").parquet(s"$drop/slice$slice")
    val ckpt = tmp("dedupidx-ckpt")
    val schema = docs.schema

    def ingest(kill: Boolean) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$drop/*")
      val gated =
        if (kill)
          stream.filter(udf { (id: Long) =>
            if (id % 9 == 5) throw new RuntimeException("injected mid-ingest failure")
            true
          }.apply($"doc_id"))
        else stream
      DedupIndexStore.streamAppendToDedupIndex(gated, inc, ckpt, "text", "doc_id")
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      ingest(kill = true).awaitTermination()
    }
    val afterCrash = DedupIndexStore.readSignatures(spark, inc).count()
    assert(afterCrash < docs.filter($"doc_id" % 3 =!= 0).count(),
      "crash must leave the ingest incomplete")
    val q2 = ingest(kill = false)
    try q2.awaitTermination()
    finally q2.stop()

    // no duplicated, no dropped signatures; probes equal the one-shot
    val ids = DedupIndexStore.readSignatures(spark, inc).select("id").as[Long].collect()
    assert(ids.length == ids.distinct.length, "every id exactly once")
    val probes = docs.filter($"doc_id" % 3 === 0)
    assert(probeSet(probes, inc) == probeSet(probes, oneShot))

    // compaction: delta dirs collapse, probes content-identical
    val before = probeSet(probes, inc)
    DedupIndexStore.compactDedupIndex(spark, inc, targetFiles = 2)
    import scala.jdk.CollectionConverters._
    // live trees resolve through the manifest (compaction versions
    // them); the superseded trees linger one grace cycle, invisible
    for (sub <- Seq("signatures", "bands"))
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(
          graft.util.ArtifactTree.resolve(spark, inc, sub))).iterator().asScala
        .forall(p => !p.getFileName.toString.startsWith("delta-")),
        s"compaction must remove $sub delta subdirectories from the live tree")
    assert(probeSet(probes, inc) == before, "probe must be unchanged by compaction")
  }

  test("deleted documents leave probes exactly as a rebuild without them") {
    val indexed = docs.filter($"doc_id" % 3 =!= 0)
    val probes = docs.filter($"doc_id" % 3 === 0)
    val path = tmp("dedupidx-del")
    buildCfg(indexed, path)
    val full = probeSet(probes, path)
    DedupIndexStore.deleteFromDedupIndex(
      indexed.filter($"doc_id" % 5 === 1).select("doc_id"), path)

    val rebuilt = tmp("dedupidx-del-rb")
    buildCfg(indexed.filter($"doc_id" % 5 =!= 1), rebuilt)

    val afterDelete = probeSet(probes, path)
    assert(afterDelete == probeSet(probes, rebuilt))
    assert(afterDelete != full, "fixture must lose at least one pair to the delete")
    assert(afterDelete.nonEmpty)

    // compaction drops the rows physically, clears tombstones, and
    // leaves probe results unchanged
    val sigsBefore = DedupIndexStore.readSignatures(spark, path).count()
    DedupIndexStore.compactDedupIndex(spark, path, targetFiles = 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "tombstones")))
    assert(DedupIndexStore.readSignatures(spark, path).count() < sigsBefore)
    assert(probeSet(probes, path) == afterDelete)

    // after compaction the ids are re-addable: append restores the full set
    DedupIndexStore.appendToDedupIndex(
      docs.filter($"doc_id" % 3 =!= 0 && $"doc_id" % 5 === 1), path, "text", "doc_id")
    assert(probeSet(probes, path) == full)
  }

  test("compaction under graceVersions=2 serves identically while superseded trees survive") {
    val indexed = docs.filter($"doc_id" % 3 =!= 0)
    val probes = docs.filter($"doc_id" % 3 === 0)
    def deletedCopy(): String = {
      val p = tmp("dedupidx-grace")
      buildCfg(indexed, p)
      DedupIndexStore.deleteFromDedupIndex(
        indexed.filter($"doc_id" % 5 === 1).select("doc_id"), p)
      p
    }
    // default retention, two cycles: the version-0 plain trees are GC'd
    // on cycle two (gcCeiling reaches 0)
    val dflt = deletedCopy()
    DedupIndexStore.compactDedupIndex(spark, dflt)
    DedupIndexStore.compactDedupIndex(spark, dflt)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dflt, "signatures")),
      "default retention should GC the version-0 tree on the second cycle")
    // graceVersions=2, two cycles: BOTH superseded versions retained —
    // the version-0 plain tree and __v1 — while probes stay bit-identical
    val grace = deletedCopy()
    DedupIndexStore.compactDedupIndex(spark, grace, graceVersions = 2)
    DedupIndexStore.compactDedupIndex(spark, grace, graceVersions = 2)
    for (sub <- Seq("signatures", "bands")) {
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(grace, sub)),
        s"graceVersions=2 lost the version-0 $sub tree")
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(grace, s"${sub}__v1")),
        s"graceVersions=2 lost the superseded $sub __v1 tree")
    }
    assert(probeSet(probes, grace) == probeSet(probes, dflt),
      "retention changed the served probe result")
  }

  test("deletes do not resurrect an over-cap bucket until compaction reclaims it") {
    // the cap bounds probe COST: physical rows in a bucket are what the
    // probe must enumerate, so tombstoned members keep counting until a
    // compaction actually removes them
    val same = "the quick brown fox jumps over the lazy dog again and again"
    val indexed = (1L to 6L).map(i => (i, same)).toDF("doc_id", "text")
    val probe = Seq((100L, same)).toDF("doc_id", "text")
    val path = tmp("dedupidx-capdel")
    buildCfg(indexed, path)
    DedupIndexStore.deleteFromDedupIndex(Seq(1L, 2L).toDF("doc_id"), path)

    def hits() =
      DedupIndexStore.probeDedupIndex(probe, path, "text", "doc_id",
        threshold = 0.9, maxBucket = 5)
        .select("id_indexed").as[Long].collect().toSet

    // 6 physical members > cap 5: the bucket stays dropped even though
    // only 4 are live
    assert(hits() == Set.empty[Long])
    // compaction removes the two tombstoned rows; 4 live members ≤ 5
    DedupIndexStore.compactDedupIndex(spark, path, targetFiles = 1)
    assert(hits() == Set(3L, 4L, 5L, 6L))
  }

  test("describeDedupIndex: counts, bucket distribution, and debt across the delete lifecycle") {
    val same = "the quick brown fox jumps over the lazy dog again and again"
    val indexed = ((1L to 6L).map(i => (i, same)) :+ (7L -> "completely unrelated content text"))
      .toDF("doc_id", "text")
    val path = tmp("dedupidx-stats")
    buildCfg(indexed, path)

    def stats() = DedupIndexStore.describeDedupIndex(spark, path)
      .as[(Long, Long, Long, Long)].collect().head
    val clean = stats()
    assert(clean._1 == 7L && clean._2 == 0L)
    // 6 identical docs share every band bucket: max bucket size is 6
    assert(clean._4 == 6L, s"max bucket must be the 6-way identical group, got ${clean._4}")

    DedupIndexStore.deleteFromDedupIndex(Seq(1L, 2L).toDF("doc_id"), path)
    val withDebt = stats()
    assert(withDebt._2 == 2L, "takedown debt visible")
    assert(withDebt._1 == 7L && withDebt._4 == 6L, "physical artifacts unchanged before compaction")

    DedupIndexStore.compactDedupIndex(spark, path, targetFiles = 1)
    val compacted = stats()
    assert(compacted == ((5L, 0L, clean._3, 4L)),
      s"compaction drops the two tombstoned docs everywhere (docs 7→5, max bucket 6→4, " +
        s"bucket count unchanged, debt cleared); got $compacted")
  }

  test("probe plan with live tombstones: still no shuffle joins, tombstones scanned once") {
    val path = tmp("dedupidx-delplan")
    buildCfg(docs.filter($"doc_id" % 3 =!= 0), path)
    DedupIndexStore.deleteFromDedupIndex(Seq(1L).toDF("doc_id"), path)
    val probe = DedupIndexStore
      .probeDedupIndex(docs.filter($"doc_id" % 3 === 0), path, "text", "doc_id",
        threshold = Thresh)
      .queryExecution.executedPlan
    val plan = probe.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"probe must never shuffle a join side:\n$plan")
    assert(graft.ScanPaths.count(probe, "tombstones") == 1,
      s"tombstones/ must scan once:\n$plan")
  }

  test("probe plan: all joins broadcast, each corpus artifact scanned once") {
    val path = tmp("dedupidx-plan")
    buildCfg(docs.filter($"doc_id" % 3 =!= 0), path)
    // string form of the static physical plan — the AQE wrapper hides
    // operator nodes from collect() (same posture as PlanShapeSpec)
    val probe = DedupIndexStore
      .probeDedupIndex(docs.filter($"doc_id" % 3 === 0), path, "text", "doc_id",
        threshold = Thresh)
      .queryExecution.executedPlan
    val plan = probe.toString

    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"probe must never shuffle a join side:\n$plan")
    def scanCount(artifact: String) = graft.ScanPaths.count(probe, artifact)
    assert(scanCount("bands") == 1, s"bands/ must scan once:\n$plan")
    assert(scanCount("signatures") == 1, s"signatures/ must scan once:\n$plan")
  }
}
