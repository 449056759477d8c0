package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persist-and-probe contract for the MinHash-LSH dedup tier — the
  * incremental-curation shape the in-session operators can't express:
  * in production the corpus is curated ONCE (100 TB, signatures + band
  * posting lists persisted as build artifacts) and every subsequent
  * delivery is a small DELTA that must be near-dup-checked against the
  * existing corpus without recomputing anything over it. (The reference
  * has no dedup tier at all — beyond-reference, same production gap
  * [[graft.similarity.IndexStore]] fills for ANN.)
  *
  * Layout under one index directory (all parquet, Hadoop-FS paths):
  *
  *   - `meta/`: one row `(num_hashes, shingle_size, bands, seed)` — the
  *     signature config; append and probe READ it back rather than
  *     trusting the caller, because a probe signed under a different
  *     seed silently matches nothing,
  *   - `signatures/`: `(id, signature array<bigint>)` — corpus-sized,
  *   - `bands/`: `(band, bucket, id)` — the exploded LSH posting rows,
  *     `bands`× corpus-sized; partitioned-by-nothing on purpose: probes
  *     prune by VALUE through a broadcast hash join, which no directory
  *     layout beats when every probe hits all `bands` band ids,
  *   - `tombstones/` (optional): `(id)` — logically deleted documents;
  *     probes exclude them, the next compaction drops them physically
  *     (see [[deleteFromDedupIndex]]).
  *
  * The probe plan is the scale contract: the two corpus-sized artifacts
  * are each SCANNED exactly once and never shuffled —
  *
  *   1. delta signatures + band keys are computed elementwise (no
  *      shuffle; the delta is small by contract — for delta ~ corpus,
  *      union the inputs and run [[Dedup.nearDuplicates]] instead),
  *   2. stored bands join the BROADCAST delta band keys: the scan
  *      surviving the broadcast hash join is just the probed buckets,
  *   3. the bucket cap is enforced on that pruned subset — a count
  *      aggregate over probed buckets only (bounded by
  *      |delta| × bands × maxBucket), dropping oversized buckets WHOLE:
  *      deterministic, SQL-re-derivable, and the same
  *      exact-dup-clusters-belong-to-exactDedup contract as
  *      [[graft.util.PostingLists]]. Capping at probe time (not build
  *      time) keeps appends blind ("just write rows") and means a
  *      bucket growing past the cap across many appends is still
  *      handled — no compaction job is needed for correctness,
  *   4. candidate `(probe, corpus)` id pairs dedup on a bounded
  *      exchange, then BROADCAST into one stored-signatures scan for
  *      the agreement-estimate verification (`est_jaccard`, the same
  *      unbiased estimator as [[Dedup.nearDuplicates]]).
  *
  * Streaming ingest reuses the checkpointed batch-id-scoped idempotent
  * sink construction proven for the ANN store: a replayed micro-batch
  * rewrites the same `delta-<batchId>` directories, so signatures and
  * band rows land exactly once across restarts. */
object DedupIndexStore {

  /** Build the index: sign the corpus once, explode band rows, persist
    * all three artifacts. */
  def writeDedupIndex(
      corpus: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 128,
      shingleSize: Int = 3,
      bands: Int = 32,
      seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((numHashes, shingleSize, bands, seed))
      .toDF("num_hashes", "shingle_size", "bands", "seed")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/meta")
    // sign ONCE: the bands artifact derives from the just-written
    // signatures parquet, not from the lazy signing plan — two
    // independent write actions over `sigs` would re-shingle and
    // re-hash the whole corpus (2× the build's dominant cost)
    Dedup.minHashSignatures(corpus, textCol, idCol, numHashes, shingleSize, seed)
      .write.mode("overwrite").parquet(
        graft.util.ArtifactTree.resolve(spark, path, "signatures"))
    bandRows(readSignatures(spark, path), bands)
      .write.mode("overwrite").parquet(
        graft.util.ArtifactTree.resolve(spark, path, "bands"))
  }

  /** The persisted signature config. Bounded driver action (one row). */
  // fixed store-format meta schema: skips the footer-inference job per
  // probe (round 21; see IndexStore's note)
  private val MetaSchema = new org.apache.spark.sql.types.StructType()
    .add("num_hashes", "int").add("shingle_size", "int")
    .add("bands", "int").add("seed", "long")

  def readMeta(spark: SparkSession, path: String): DedupIndexMeta = {
    val rows = spark.read.schema(MetaSchema).parquet(s"$path/meta").collect()
    require(rows.length == 1, s"DedupIndexStore: expected one meta row at $path, got ${rows.length}")
    val r = rows(0)
    DedupIndexMeta(
      r.getAs[Int]("num_hashes"), r.getAs[Int]("shingle_size"),
      r.getAs[Int]("bands"), r.getAs[Long]("seed"))
  }

  /** Incremental maintenance: sign NEW documents under the PERSISTED
    * config (never the caller's — a config drift would silently break
    * every future probe) and append. Cost is one elementwise scan over
    * the delta only.
    *
    * Crash posture — the streaming sink's batch-scoped idempotent
    * construction, applied to the batch job: BOTH artifacts land in
    * `append-<batchId>` subdirectories with OVERWRITE semantics, so an
    * append that crashed anywhere (including between the signatures
    * and bands commits, the window where probes would band-match docs
    * whose signatures the estimator join then drops) is healed by
    * RE-RUNNING it with the SAME `batchId` — the retry rewrites the
    * same directories and can never duplicate rows (a duplicate
    * signature row would silently multiply probe output pairs).
    * Callers that want that retry must pass a stable `batchId`; the
    * default draws a fresh UUID, making the single successful call
    * exactly-once but a blind retry a duplicate. */
  def appendToDedupIndex(
      newDocs: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      batchId: String = ""): Unit = {
    val spark = newDocs.sparkSession
    val m = readMeta(spark, path)
    // same sign-once discipline as the build: the delta lands in its own
    // signatures subdirectory (the recursive readers flatten it; a
    // compaction folds it away) and bands derive from the written files
    val id = if (batchId.nonEmpty) batchId else java.util.UUID.randomUUID().toString.take(8)
    // deltas land INSIDE the resolved (possibly versioned) trees, so
    // they compact away with their base. BOTH subtrees are resolved up
    // front, before either write: resolving them at two different times
    // let a compaction publishing between the writes split one logical
    // append across tree versions, with the half in the superseded tree
    // silently vanishing at the next GC — the single-writer contract
    // already forbids that interleaving, but the window was avoidable
    val sigTree = graft.util.ArtifactTree.resolve(spark, path, "signatures")
    val bandTree = graft.util.ArtifactTree.resolve(spark, path, "bands")
    Dedup.minHashSignatures(newDocs, textCol, idCol, m.numHashes, m.shingleSize, m.seed)
      .write.mode("overwrite").parquet(s"$sigTree/append-$id")
    bandRows(spark.read.parquet(s"$sigTree/append-$id"), m.bands)
      .write.mode("overwrite").parquet(s"$bandTree/append-$id")
  }

  /** Streaming delta ingest: document deltas arrive as a stream and land
    * exactly once. Each micro-batch writes BOTH artifacts to
    * batch-id-scoped subdirectories with overwrite semantics — a batch
    * replayed after a crash (including one that died between the two
    * writes) rewrites the same directories, so the sink pair is
    * idempotent and the checkpoint gives exactly-once. */
  def streamAppendToDedupIndex(
      deltas: DataFrame,
      path: String,
      checkpoint: String,
      textCol: String = "text",
      idCol: String = "doc_id"): org.apache.spark.sql.streaming.StreamingQuery = {
    val m = readMeta(deltas.sparkSession, path)
    deltas.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // sign-once per batch: bands derive from the just-written delta
        // signatures (replay rewrites both dirs, preserving idempotence).
        // Both subtrees resolved up front — one micro-batch's pair of
        // writes must land in ONE tree version (see appendToDedupIndex)
        val sigTree = graft.util.ArtifactTree
          .resolve(batch.sparkSession, path, "signatures")
        val bandTree = graft.util.ArtifactTree
          .resolve(batch.sparkSession, path, "bands")
        Dedup.minHashSignatures(
            batch, textCol, idCol, m.numHashes, m.shingleSize, m.seed)
          .write.mode("overwrite").parquet(s"$sigTree/delta-$batchId")
        bandRows(
            batch.sparkSession.read.parquet(s"$sigTree/delta-$batchId"), m.bands)
          .write.mode("overwrite").parquet(s"$bandTree/delta-$batchId")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Tombstone documents out of the index — the takedown/opt-out job a
    * production corpus needs (a copyright removal must stop matching
    * immediately; rebuilding a 100 TB index per takedown is not a
    * plan). Deletes are LOGICAL: ids land in a `tombstones/` artifact
    * and probes exclude them; rows leave the corpus-sized artifacts
    * physically at the next [[compactDedupIndex]], which also clears
    * the tombstones. Lifecycle contract: a tombstoned id is excluded
    * until a compaction folds the drop in; re-appending an id while its
    * tombstone is live keeps it excluded (ids are versioned by the
    * delete→compact→append cycle, not by row age). Between compactions
    * the tombstone set is delta-class by the same operational contract
    * as probe deltas — mass deletions should go straight to a
    * compaction. */
  def deleteFromDedupIndex(ids: DataFrame, path: String, idCol: String = "doc_id"): Unit =
    // no cast: idCol's type is caller-chosen across the whole store
    // (minHashSignatures preserves it) — a cast("long") here would turn
    // string-id takedowns into all-NULL tombstones that match nothing
    ids.select(col(idCol).as("id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    graft.util.ArtifactTree.readOptional(spark, path, "tombstones")

  /** Compact both corpus-sized artifact trees after streaming ingest
    * has accreted delta subdirectories, folding in any tombstoned
    * deletes physically (rows dropped, tombstones cleared — compaction
    * is the one job already rewriting every row, so the corpus-sized
    * anti-join is in budget here and nowhere else). Not needed for
    * CORRECTNESS — the probe-time bucket cap already handles
    * cross-append bucket growth and probes already exclude tombstoned
    * ids — purely the file-count + reclamation maintenance job; probes
    * are content-identical after the swap (spec-pinned). Crash-recovery
    * and atomicity posture in [[graft.util.ArtifactTree]]; a crash
    * after the rewrites but before the tombstone clear just leaves
    * already-dropped ids excluded twice — idempotent. */
  def compactDedupIndex(
      spark: SparkSession,
      path: String,
      targetFiles: Int = 8,
      graceVersions: Int = 1,
      graceMinAgeMs: Long = 0L): Unit = {
    val drop: DataFrame => DataFrame = tombstones(spark, path) match {
      case None => identity
      case Some(t) => df => df.join(t.select(col("id")), Seq("id"), "left_anti")
    }
    graft.util.ArtifactTree.compact(spark, path, "signatures", targetFiles, src => drop(src),
      graceVersions = graceVersions, graceMinAgeMs = graceMinAgeMs)
    graft.util.ArtifactTree.compact(spark, path, "bands", targetFiles, src => drop(src),
      graceVersions = graceVersions, graceMinAgeMs = graceMinAgeMs)
    graft.util.ArtifactTree.remove(spark, path, "tombstones")
  }

  /** Flat + streaming-delta trees (same recursive-read posture as the
    * ANN store's code table). */
  // SchemaMemo (round 22): id-typed schema still comes from the
  // artifact's own footers, inferred once per file state instead of
  // once per probe — see graft.util.SchemaMemo's posture notes
  def readSignatures(spark: SparkSession, path: String): DataFrame =
    graft.util.SchemaMemo.parquet(spark,
      graft.util.ArtifactTree.resolve(spark, path, "signatures"), recursive = true)

  def readBands(spark: SparkSession, path: String): DataFrame =
    graft.util.SchemaMemo.parquet(spark,
      graft.util.ArtifactTree.resolve(spark, path, "bands"), recursive = true)

  /** Index bookkeeping — the ops surface for the persisted dedup tier:
    * document count, tombstone count (takedown debt the next compaction
    * reclaims), distinct bucket count and max bucket size (the cap
    * signal: a max near `maxBucket` means probe coverage is being
    * truncated and the banding config needs revisiting). One scan per
    * artifact; the bucket aggregation is a map-side-combined groupBy on
    * `(band, bucket)` — an occasional maintenance-class job, same
    * budget as compaction, not a probe-path cost. Returns one row. */
  def describeDedupIndex(spark: SparkSession, path: String): DataFrame = {
    val nDocs = readSignatures(spark, path).select(count(lit(1)).as("n_docs"))
    val nTomb = tombstones(spark, path) match {
      case None => nDocs.sparkSession.range(1).select(lit(0L).as("n_tombstoned"))
      case Some(t) => t.select(count(lit(1)).as("n_tombstoned"))
    }
    val buckets = readBands(spark, path)
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_bucket"))
    nDocs.crossJoin(nTomb).crossJoin(buckets)
      .select(col("n_docs"), col("n_tombstoned"), col("n_buckets"), col("max_bucket"))
  }

  /** Near-duplicates of `probeDocs` AGAINST THE INDEX: every
    * `(id_new, id_indexed, est_jaccard ≥ threshold)` pair, the corpus
    * side read from artifacts only — no corpus signature is recomputed
    * and no corpus-sized exchange appears anywhere in the plan
    * (spec-pinned). Self-pairs among probe docs are out of scope by
    * design: dedup the delta with [[Dedup.nearDuplicates]] first, then
    * probe the survivors. */
  def probeDedupIndex(
      probeDocs: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      threshold: Double = 0.8,
      maxBucket: Int = graft.util.PostingLists.DefaultMaxBucket): DataFrame = {
    val spark = probeDocs.sparkSession
    val m = readMeta(spark, path)
    // The delta signature subtree feeds THREE broadcast subplans (probed
    // buckets, candidate join-back, estimator join). Sign it ONCE
    // (round 21, guide §1.2 — don't recompute what you already have):
    // the r20 posture re-signed the delta per broadcast. The LAZY
    // localCheckpoint makes the first consumer (a broadcast build) run
    // the signing and materialize the blocks; the other two read them —
    // one evaluation, no extra sequential driver barrier. (Measured
    // variants, interleaved same-JVM A/B at sf0.1: lazy ≤ eager ≤
    // re-sign; an explicit pre-spread `repartition` REGRESSED — the
    // 32-partition checkpoint pushed 32-task overhead into every
    // downstream probe stage.) No CacheManager entry — the library-wide
    // no-residue rule PlanShapeSpec pins still holds (checkpoint blocks
    // are freed with the RDD by the ContextCleaner, not registered in
    // the CacheManager).
    val probeSigs = Dedup.minHashSignatures(
        probeDocs, textCol, idCol, m.numHashes, m.shingleSize, m.seed)
      .localCheckpoint(false)
    val probeBands = bandRows(probeSigs, m.bands)
      .select(col("band"), col("bucket"), col("id").as("id_new"))

    // stored bands scan × broadcast probe keys → only probed buckets
    // survive; membership counts are then exact per bucket (pruning
    // drops whole buckets, never members) and bounded by the probe size
    val probedBuckets = readBands(spark, path)
      .join(broadcast(probeBands.select("band", "bucket").distinct()),
        Seq("band", "bucket"))
    // per-bucket count via a window over the PRUNED subset: one corpus
    // scan total (a count-aggregate + join-back shape would either scan
    // `bands/` twice or persist the subset). This is NOT the corpus-wide
    // sort-window PostingLists r15 killed — the exchange+sort here holds
    // probe-hit rows only, ≤ |delta|·bands buckets of ≤ bucket-size rows
    // each, and mega-buckets cost one bounded count-then-drop pass
    // (their rows must be read to be counted under ANY shape)
    val keptBuckets = probedBuckets
      .withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")

    val rawCandidates = keptBuckets
      .join(broadcast(probeBands), Seq("band", "bucket"))
      .select(col("id_new"), col("id").as("id_indexed"))
      .filter(col("id_new") =!= col("id_indexed"))
      .distinct()

    // tombstoned ids drop out AFTER the cap: the cap bounds probe COST,
    // and cost is the physical rows a bucket makes the probe enumerate —
    // a bucket stuffed with tombstoned members is exactly as expensive
    // until a compaction reclaims it, so deletes don't resurrect an
    // over-cap bucket (spec-pinned). The tombstone artifact is
    // delta-class between compactions (see deleteFromDedupIndex), so
    // one scan of it broadcast into the delta-bounded candidate set.
    val candidates = tombstones(spark, path) match {
      case None => rawCandidates
      case Some(t) =>
        rawCandidates.join(
          broadcast(t.select(col("id").as("id_indexed"))), Seq("id_indexed"), "left_anti")
    }

    // one stored-signatures scan: candidates (with the probe signature
    // riding along) broadcast into it — corpus side never shuffles
    val candWithProbeSig = candidates
      .join(broadcast(probeSigs.select(col("id").as("id_new"), col("signature").as("sig_new"))),
        Seq("id_new"))
    readSignatures(spark, path)
      .select(col("id").as("id_indexed"), col("signature").as("sig_idx"))
      .join(broadcast(candWithProbeSig), Seq("id_indexed"))
      .select(col("id_new"), col("id_indexed"),
        Dedup.signatureAgreement(col("sig_new"), col("sig_idx")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** `(band, bucket, id)` posting rows for a signature table. */
  private def bandRows(sigs: DataFrame, bands: Int): DataFrame =
    sigs
      .select(col("id"), explode(Dedup.bandHashes(col("signature"), bands)).as("bh"))
      .select(col("bh.band").as("band"), col("bh.band_hash").as("bucket"), col("id"))
}

/** Persisted signature config: probes and appends must sign with
  * exactly these parameters or match nothing. */
final case class DedupIndexMeta(numHashes: Int, shingleSize: Int, bands: Int, seed: Long)
