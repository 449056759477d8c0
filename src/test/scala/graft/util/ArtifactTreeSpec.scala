package graft.util

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The manifest-fronted artifact swap's READER contract, pinned state
  * by state: a reader resolving the live tree at ANY point around a
  * concurrent compaction reads a COMPLETE tree successfully — the old
  * version before the marker lands, the new one after — and a reader
  * already holding the old resolution keeps reading intact files
  * through the whole swap (the one-cycle grace window). Plus the
  * legacy pre-manifest crash half-states, still healed on entry. */
class ArtifactTreeSpec extends SparkSpec {

  private def freshTree(): (String, java.nio.file.Path) = {
    import spark.implicits._
    val root = Scratch.dir("atree")
    (1 to 100).map(i => (i.toLong, "old")).toDF("id", "gen")
      .write.mode("overwrite").parquet(s"$root/data")
    (root.toString, root)
  }

  private def readGen(root: String): Set[String] =
    spark.read.parquet(ArtifactTree.resolve(spark, root, "data"))
      .select("gen").distinct()
      .collect().map(_.getString(0)).toSet

  test("reader during the swap SUCCEEDS on the old tree; resolve flips atomically") {
    val (root, _) = freshTree()
    import spark.implicits._

    // a reader resolves BEFORE any compaction: legacy plain tree
    val preSwapPath = ArtifactTree.resolve(spark, root, "data")
    assert(preSwapPath.endsWith("/data"))
    val preSwapReader = spark.read.parquet(preSwapPath)

    // first compaction: rewrites to data__v1 and publishes marker v-1;
    // the legacy tree is NOT touched (grace window), so the pre-swap
    // reader still reads complete old files — no loud failure, no
    // missing path, the round-16 fail-and-retry window is gone
    ArtifactTree.compact(spark, root, "data", targetFiles = 2,
      transform = df => df.withColumn("gen", lit("v1")))
    assert(preSwapReader.select("gen").distinct().collect()
      .map(_.getString(0)).toSet == Set("old"),
      "a reader holding the pre-swap resolution must still read the intact old tree")
    // a NEW reader resolves through the manifest to the new version
    assert(ArtifactTree.resolve(spark, root, "data").endsWith("/data__v1"))
    assert(readGen(root) == Set("v1"))

    // second compaction: publishes v2, GCs the legacy plain tree (one
    // cycle old) but keeps v1 as the new grace version
    val v1Reader = spark.read.parquet(s"$root/data__v1")
    ArtifactTree.compact(spark, root, "data", targetFiles = 2,
      transform = df => df.withColumn("gen", lit("v2")))
    assert(ArtifactTree.resolve(spark, root, "data").endsWith("/data__v2"))
    assert(readGen(root) == Set("v2"))
    assert(v1Reader.select("gen").distinct().collect()
      .map(_.getString(0)).toSet == Set("v1"),
      "the immediately-superseded version survives one full cycle")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data")),
      "the legacy plain tree is GC'd one cycle after its supersession")

    // third compaction: v1 (now two cycles old) is GC'd, v2 survives
    ArtifactTree.compact(spark, root, "data", targetFiles = 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data__v1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data__v2")))
    assert(readGen(root) == Set("v2"))
  }

  test("graceVersions=2: a reader survives TWO compactions of its subdir") {
    // the r17 verdict's count-vs-duration edge: under the default N=1 a
    // reader slower than one full compaction cycle loses its tree; the
    // retention knob widens the window without touching default behavior
    val (root, _) = freshTree()
    import spark.implicits._

    val preSwapReader = spark.read.parquet(ArtifactTree.resolve(spark, root, "data"))
    ArtifactTree.compact(spark, root, "data", targetFiles = 2,
      transform = df => df.withColumn("gen", lit("v1")), graceVersions = 2)
    ArtifactTree.compact(spark, root, "data", targetFiles = 2,
      transform = df => df.withColumn("gen", lit("v2")), graceVersions = 2)
    // two full cycles later the pre-swap reader STILL reads intact files
    assert(preSwapReader.select("gen").distinct().collect()
      .map(_.getString(0)).toSet == Set("old"),
      "under graceVersions=2 a reader across two compactions keeps its tree")
    assert(readGen(root) == Set("v2"))

    // the third cycle finally retires the legacy tree and v1 survives
    // as the second retained version (newV=3: eligible ceiling is 0)
    ArtifactTree.compact(spark, root, "data", targetFiles = 2,
      transform = df => df.withColumn("gen", lit("v3")), graceVersions = 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data")),
      "the legacy tree is GC'd once it falls out of the N=2 window")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data__v1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data__v2")))
    assert(readGen(root) == Set("v3"))
  }

  test("graceMinAgeMs retains a young superseded version past its count window") {
    val (root, _) = freshTree()
    import spark.implicits._
    // three compactions back to back, each with a 1h minimum age: every
    // superseded version's marker is seconds old, so NOTHING is GC'd
    // even though v1 falls out of the default N=1 count window
    for (g <- Seq("v1", "v2", "v3"))
      ArtifactTree.compact(spark, root, "data", targetFiles = 2,
        transform = df => df.withColumn("gen", lit(g)), graceMinAgeMs = 3600000L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data")),
      "the young legacy tree is retained by age")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data__v1")),
      "the young superseded v1 is retained by age")
    assert(readGen(root) == Set("v3"))
    // age 0 (the default) restores pure count-based GC on the next cycle
    ArtifactTree.compact(spark, root, "data", targetFiles = 2,
      transform = df => df.withColumn("gen", lit("v4")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data__v1")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data__v2")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data__v3")),
      "the just-superseded version always survives")
    assert(readGen(root) == Set("v4"))
  }

  test("foreign files in the manifest directory are ignored, not fatal") {
    val (root, rootPath) = freshTree()
    import spark.implicits._
    ArtifactTree.compact(spark, root, "data", targetFiles = 2,
      transform = df => df.withColumn("gen", lit("v1")))
    // an editor temp, a partial upload, and a non-numeric marker-alike:
    // none of these may throw NumberFormatException out of resolve
    for (junk <- Seq("v-tmp", ".v-00000002.swp", "_SUCCESS"))
      java.nio.file.Files.createFile(rootPath.resolve("data_manifest").resolve(junk))
    assert(ArtifactTree.resolve(spark, root, "data").endsWith("/data__v1"))
    assert(readGen(root) == Set("v1"))
    // and a subsequent compaction still versions correctly past the junk
    ArtifactTree.compact(spark, root, "data", targetFiles = 2,
      transform = df => df.withColumn("gen", lit("v2")))
    assert(ArtifactTree.resolve(spark, root, "data").endsWith("/data__v2"))
  }

  test("legacy crash half-states: a re-run compact heals both rename orders") {
    import spark.implicits._
    // half-state 1: a PRE-MANIFEST run died between its renames — only
    // _precompact holds the data; a re-run restores it and compacts
    // into the manifested layout normally
    val (root1, rootPath1) = freshTree()
    java.nio.file.Files.move(rootPath1.resolve("data"), rootPath1.resolve("data_precompact"))
    ArtifactTree.compact(spark, root1, "data", targetFiles = 2)
    assert(readGen(root1) == Set("old"))
    assert(!java.nio.file.Files.exists(rootPath1.resolve("data_precompact")))

    // half-state 2: died after its second rename but before the
    // old-tree delete — _precompact is garbage next to a complete live
    // tree; a re-run deletes it and the live rows are untouched
    val (root2, rootPath2) = freshTree()
    (1 to 100).map(i => (i.toLong, "old")).toDF("id", "gen")
      .write.mode("overwrite").parquet(s"$root2/data_precompact")
    ArtifactTree.compact(spark, root2, "data", targetFiles = 2)
    assert(readGen(root2) == Set("old"))
    assert(!java.nio.file.Files.exists(rootPath2.resolve("data_precompact")))
  }

  test("crashed manifested run: orphan versioned tree is overwritten, re-run publishes once") {
    import spark.implicits._
    val (root, rootPath) = freshTree()
    // simulate a run that wrote the new tree but died before the marker:
    // an orphan data__v1 with garbage content, current version still 0
    (1 to 7).map(i => (i.toLong, "torn")).toDF("id", "gen")
      .write.mode("overwrite").parquet(s"$root/data__v1")
    assert(readGen(root) == Set("old"), "no marker -> orphan invisible to readers")
    ArtifactTree.compact(spark, root, "data", targetFiles = 2)
    assert(readGen(root) == Set("old"), "re-run rewrites the orphan in place")
    assert(java.nio.file.Files.exists(rootPath.resolve("data_manifest/v-00000001")))
  }

  test("compact folds a transform exactly once and bounds the file count") {
    val (root, _) = freshTree()
    ArtifactTree.compact(spark, root, "data", targetFiles = 2,
      transform = df => df.filter(col("id") % 2 === 0))
    val live = ArtifactTree.resolve(spark, root, "data")
    val rows = spark.read.parquet(live)
    assert(rows.count() == 50)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(live))
      .toArray.map(_.toString).count(_.endsWith(".parquet"))
    assert(files <= 2, s"expected <= 2 parquet files, got $files")
  }

  test("a transform that ignores its source reads nothing: compact publishes over a missing tree") {
    import spark.implicits._
    val root = Scratch.dir("atree-unread").toString
    ArtifactTree.compact(spark, root, "data", targetFiles = 1,
      transform = _ => (1 to 10).map(i => (i.toLong, "derived")).toDF("id", "gen"))
    assert(ArtifactTree.resolve(spark, root, "data").endsWith("/data__v1"))
    assert(readGen(root) == Set("derived"))
  }
}
