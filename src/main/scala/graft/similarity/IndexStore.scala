package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persist-and-serve contract for the PQ ANN tier — the missing piece of
  * the 100 TB serving story: index BUILD and index QUERY are separate
  * jobs in production (build runs once over the corpus and writes
  * artifacts; serving jobs read them and never retrain). The layout is
  * two parquet tables under one index directory:
  *
  *   - `codebooks/`: `(m, k, centroid array<float>)` — the trained
  *     per-subspace codebooks, `PqM`×`PqCent` rows (tiny; serving
  *     collects them once and broadcasts ADC LUTs),
  *   - `codes/`: `(neighbor_id, codes array<int>)` — the corpus encoded
  *     at build time, the only corpus-sized artifact; at scale this is
  *     the ~32×-compressed scan the PQ paper exists for (Jégou 2011,
  *     `/root/reference` has no ANN tier — this is beyond-reference).
  *
  * Serving reuses the exact stages of the in-session path
  * ([[ProductQuant.adcTopK]] + [[ProductQuant.rerankShortlist]]), so
  * served results are bit-identical to q_knn_pq_rerank and sit under the
  * same exact DuckDB oracle. The served plan contains NO k-means and no
  * encode scan — only the codes read, the broadcast LUT join, and the
  * shortlist re-rank against the vector table. */
object IndexStore {

  /** Build the PQ index: train codebooks (unless pretrained ones are
    * passed), encode the corpus once, write both artifacts. */
  def writePqIndex(
      corpus: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      m: Int = 8,
      kCent: Int = 16,
      seed: Long = 42L,
      sampleSize: Int = 10000,
      codebooks: Array[Array[Array[Float]]] = null): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cbs =
      if (codebooks != null) codebooks
      else ProductQuant.trainedCodebooks(corpus, idCol, vecCol, m, kCent, seed, sampleSize)
    val cbRows = for {
      mi <- cbs.indices
      ki <- cbs(mi).indices
    } yield (mi, ki, cbs(mi)(ki).toSeq)
    cbRows.toDF("m", "k", "centroid")
      .repartition(1) // PqM*PqCent rows — one tiny file
      .write.mode("overwrite").parquet(s"$path/codebooks")
    corpus
      .select(col(idCol).as("neighbor_id"), ProductQuant.encodeCol(col(vecCol), cbs).as("codes"))
      .write.mode("overwrite").parquet(
        graft.util.ArtifactTree.resolve(spark, path, "codes"))
  }


  // Fixed store-format artifact schemas (round 21, guide §1/§7.3): a
  // schemaless parquet read runs a footer-inference JOB per call; these
  // artifacts' schemas are format constants of the store (written by
  // this object), so serving supplies them and skips that job. Id-typed
  // artifacts (codes, tombstones) keep inference — their id column type
  // is the caller's.
  private val CodebookSchema = new org.apache.spark.sql.types.StructType()
    .add("m", "int").add("k", "int")
    .add("centroid", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType, containsNull = false))
  private val CoarseSchema = new org.apache.spark.sql.types.StructType()
    .add("cell", "int")
    .add("centroid", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType, containsNull = false))
  private val RotationSchema = new org.apache.spark.sql.types.StructType()
    .add("i", "int")
    .add("row", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false))

  /** Load the codebooks artifact back into the `[m][k][dsub]` layout the
    * encode/LUT expressions take. A bounded driver action by
    * construction (m×k rows). */
  def readCodebooks(spark: SparkSession, path: String): Array[Array[Array[Float]]] = {
    import spark.implicits._
    val rows = spark.read.schema(CodebookSchema).parquet(s"$path/codebooks")
      .select(col("m"), col("k"), col("centroid"))
      .as[(Int, Int, Seq[Float])]
      .collect()
    require(rows.nonEmpty, s"IndexStore: empty codebooks at $path")
    val mMax = rows.map(_._1).max + 1
    val kMax = rows.map(_._2).max + 1
    val out = Array.ofDim[Array[Float]](mMax, kMax)
    rows.foreach { case (mi, ki, c) => out(mi)(ki) = c.toArray }
    require(out.forall(_.forall(_ != null)), s"IndexStore: sparse codebook grid at $path")
    out
  }

  /** Incremental index maintenance: encode NEW vectors with the
    * persisted codebooks (read back, never retrained — retraining would
    * silently invalidate every previously stored code) and append their
    * codes. The streaming-ingest half of the serving contract: a 100 TB
    * index is built once and then receives daily/hourly deltas; append
    * cost is one elementwise encode scan over the delta only. */
  def appendToPqIndex(
      newVectors: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val cbs = readCodebooks(newVectors.sparkSession, path)
    newVectors
      .select(col(idCol).as("neighbor_id"), ProductQuant.encodeCol(col(vecCol), cbs).as("codes"))
      .write.mode("append").parquet(
        graft.util.ArtifactTree.resolve(newVectors.sparkSession, path, "codes"))
  }

  /** Streaming delta ingest — the production shape of [[appendToPqIndex]]:
    * index deltas arrive as a STREAM (a file-source drop directory, a log
    * at 100 TB) and must land exactly once across restarts. Each
    * micro-batch is encoded with the PERSISTED codebooks (read once
    * before the stream starts — they never change; retraining would
    * invalidate stored codes) and written to a batch-id-scoped
    * subdirectory with overwrite semantics: a replayed batch after a
    * crash rewrites the SAME directory, so the sink is idempotent and
    * the checkpoint + deterministic-path pair gives exactly-once codes —
    * the standard foreachBatch idempotent-sink construction.
    * [[servePqTopK]] reads the codes tree recursively, so served results
    * include every committed delta with no compaction step. */
  def streamAppendToPqIndex(
      deltas: DataFrame,
      path: String,
      checkpoint: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): org.apache.spark.sql.streaming.StreamingQuery = {
    val cbs = readCodebooks(deltas.sparkSession, path)
    deltas.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .select(col(idCol).as("neighbor_id"),
            ProductQuant.encodeCol(col(vecCol), cbs).as("codes"))
          .write.mode("overwrite").parquet(
            graft.util.ArtifactTree.resolve(batch.sparkSession, path, "codes") +
              s"/delta-$batchId")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** The full code table: the build job's flat files plus every
    * committed streaming delta subdirectory. */
  def readCodes(spark: SparkSession, path: String): DataFrame =
    // SchemaMemo: neighbor_id's type still comes from the artifact
    // footers, inferred once per file state (round 22)
    graft.util.SchemaMemo.parquet(spark,
      graft.util.ArtifactTree.resolve(spark, path, "codes"), recursive = true)

  /** Tombstone vectors out of the index — the takedown/opt-out job
    * (FAISS's `remove_ids`, re-expressed for a persisted distributed
    * index): deletes are LOGICAL — ids land in a `tombstones/` artifact
    * and serving excludes them BEFORE top-k selection, so served
    * results are bit-identical to an index rebuilt without the deleted
    * vectors (tombstoned codes never occupy shortlist slots; spec-
    * pinned). Rows leave the codes table physically at the next
    * compaction, which also clears the tombstones. Same lifecycle
    * contract as the dedup index: a tombstoned id stays excluded until
    * a compaction folds the drop in (re-appends while the tombstone is
    * live stay excluded), and the tombstone set is delta-class between
    * compactions — mass deletions should go straight to a compaction. */
  def deleteFromIndex(ids: DataFrame, path: String, idCol: String = "vec_id"): Unit =
    ids.select(col(idCol).as("neighbor_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    graft.util.ArtifactTree.readOptional(spark, path, "tombstones")

  /** Codes with tombstoned rows excluded — what every serving path
    * ranks over. With no tombstone artifact the plan is byte-identical
    * to the pre-delete plan (no extra scan); with one, the delta-class
    * tombstone scan broadcasts into the codes scan as an anti-join —
    * the corpus side still never shuffles. */
  private def live(codes: DataFrame, spark: SparkSession, path: String): DataFrame =
    tombstones(spark, path) match {
      case None => codes
      case Some(t) => codes.join(broadcast(t.select("neighbor_id")), Seq("neighbor_id"), "left_anti")
    }

  /** Compact the codes tree — the maintenance job the streaming ingest
    * eventually needs. Codes are content-identical after the swap
    * (spec-pinned: served results unchanged, delta dirs gone);
    * crash-recovery and atomicity posture in
    * [[graft.util.ArtifactTree]]. */
  def compactPqIndex(
      spark: SparkSession,
      path: String,
      targetFiles: Int = 8,
      graceVersions: Int = 1,
      graceMinAgeMs: Long = 0L): Unit = {
    graft.util.ArtifactTree.compact(spark, path, "codes", targetFiles,
      src => dropTombstoned(spark, path)(src),
      graceVersions = graceVersions, graceMinAgeMs = graceMinAgeMs)
    graft.util.ArtifactTree.remove(spark, path, "tombstones")
  }

  /** Compaction for the cell-partitioned IVF layout: same swap
    * discipline, but the rewrite preserves the `cell=` directory tree
    * (serving's dynamic partition pruning depends on it) and clusters
    * rows so each cell lands in at most `targetFiles` files. Folds in
    * tombstoned deletes physically and clears the tombstones, like
    * [[compactPqIndex]]. */
  def compactIvfIndex(
      spark: SparkSession,
      path: String,
      targetFiles: Int = 8,
      graceVersions: Int = 1,
      graceMinAgeMs: Long = 0L): Unit = {
    graft.util.ArtifactTree.compact(spark, path, "ivf_codes", targetFiles,
      src => dropTombstoned(spark, path)(src), partitionCols = Seq("cell"),
      graceVersions = graceVersions, graceMinAgeMs = graceMinAgeMs)
    graft.util.ArtifactTree.remove(spark, path, "tombstones")
  }

  private def dropTombstoned(spark: SparkSession, path: String): DataFrame => DataFrame =
    tombstones(spark, path) match {
      case None => identity
      case Some(t) => df => df.join(t.select("neighbor_id"), Seq("neighbor_id"), "left_anti")
    }

  /** Persist the IVFADC index (the composed production layout): coarse
    * centroids + residual codebooks as tiny artifacts, and the encoded
    * `(neighbor_id, cell, codes)` lists PARTITIONED BY CELL — serving
    * probes nProbe cells, and the cell-keyed broadcast join lets
    * dynamic partition pruning drop every unprobed cell directory from
    * the scan: at 100 TB the query reads nProbe/nCells of the index,
    * not all of it.
    *
    * `nCells` defaults to [[CellsAuto]] (round 19): the cell count
    * derives from the training corpus size as
    * `max(8, ceil(n / TargetCellRows))` — the repo's own documented
    * `cells ∝ corpus` rule (SCALING.md: the r18 batch-512 hybrid probe
    * OOM'd against an 8-cell 600k-vector index until its fixture
    * followed exactly this rule, and the production failure mode of an
    * under-celling is executor OOM at serve time, not latency). An
    * explicit cell count still wins, but one whose rows-per-cell exceeds
    * [[MaxRowsPerCellWarn]] gets a loud stderr warning at build time —
    * the moment the mistake is cheap to fix. The warning is validated
    * against the WRITTEN index (a parquet-metadata count), so explicit
    * and pre-trained callers pay no extra evaluation of their input
    * plan; only [[CellsAuto]] counts the corpus, because it derives the
    * cell count from it. */
  /** `nCells` sentinel: derive the cell count from the training corpus
    * size (see [[writeIvfPqIndex]]). */
  val CellsAuto: Int = -1
  /** The constant-cell-size target behind [[CellsAuto]]: ~5k vectors
    * per inverted list keeps a probed cell's materialization bounded at
    * any corpus size (the documented SCALING.md rule the r18 OOM
    * validated the hard way). */
  val TargetCellRows: Long = 5000L
  /** Expected-rows-per-cell bound above which an EXPLICIT cell count
    * draws a build-time warning. 50k = 10× the auto target: room for
    * deliberate coarse indexes, loud for the 75k-rows/cell shape that
    * OOM'd the r18 probe. */
  val MaxRowsPerCellWarn: Long = 50000L

  /** The [[CellsAuto]] derivation, exposed for the spec: ceil-division
    * so the last partial cell never silently fattens the others, floored
    * at the historical default of 8. */
  private[similarity] def derivedCells(n: Long): Int =
    math.max(8L, (n + TargetCellRows - 1L) / TargetCellRows).toInt

  def writeIvfPqIndex(
      corpus: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nCells: Int = CellsAuto,
      m: Int = 8,
      kCent: Int = 16,
      seed: Long = 42L,
      sampleSize: Int = 10000,
      coarseCentroids: Array[Array[Float]] = null,
      residCodebooks: Array[Array[Array[Float]]] = null): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(nCells == CellsAuto || nCells > 0,
      s"writeIvfPqIndex: nCells must be positive or CellsAuto (-1) — got $nCells")
    val cents =
      if (coarseCentroids != null) coarseCentroids
      else {
        // CellsAuto needs the corpus size to derive the cell count — one
        // count over the caller's plan, unavoidable there. An EXPLICIT
        // cell count pays NO extra action (ADVICE r19: an unpersisted
        // expensive upstream plan — an embed pipeline, a remote read —
        // used to get a full extra evaluation just to emit the
        // rows-per-cell warning); its validation moved to the post-encode
        // check below, which counts the WRITTEN artifact from parquet
        // metadata instead of re-evaluating the input. Either way a
        // corpus riding an expensive derivation should be persisted
        // first — the trainer samples it and the encoder scans it.
        val cells = if (nCells == CellsAuto) derivedCells(corpus.count()) else nCells
        Similarity.trainedCentroids(corpus, idCol, vecCol, cells, seed, sampleSize)
      }
    val cbs =
      if (residCodebooks != null) residCodebooks
      else IvfPq.trainedResidualCodebooks(corpus, cents, idCol, vecCol, m, kCent, seed, sampleSize)
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/coarse")
    (for { mi <- cbs.indices; ki <- cbs(mi).indices } yield (mi, ki, cbs(mi)(ki).toSeq))
      .toDF("m", "k", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/resid_codebooks")
    IvfPq.encodeIvfLists(corpus, cents, cbs, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(
        graft.util.ArtifactTree.resolve(spark, path, "ivf_codes"))
    // rows-per-cell validation against the WRITTEN artifact — a parquet
    // row-group-metadata count, never a re-evaluation of the caller's
    // corpus plan (CellsAuto stays under TargetCellRows by construction;
    // this catches the explicit/pre-trained under-celling, the r18
    // batch-512 OOM shape, at the moment the mistake is cheap to fix)
    val written = spark.read.parquet(
      graft.util.ArtifactTree.resolve(spark, path, "ivf_codes")).count()
    val perCell = written / math.max(cents.length, 1)
    if (perCell > MaxRowsPerCellWarn)
      System.err.println(
        s"[IndexStore] writeIvfPqIndex: ~$perCell rows/cell at " +
          s"nCells=${cents.length} over $written vectors exceeds $MaxRowsPerCellWarn — an " +
          "under-celled index makes every probe materialize nProbe/nCells of " +
          "the corpus (the r18 batch-512 probe OOM'd on exactly this); pass " +
          "CellsAuto or grow nCells toward n/" + TargetCellRows)
  }

  /** Load the two tiny IVF artifacts back (bounded driver actions). */
  def readIvfArtifacts(
      spark: SparkSession, path: String): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    import spark.implicits._
    val cents = spark.read.schema(CoarseSchema).parquet(s"$path/coarse")
      .as[(Int, Seq[Float])].collect().sortBy(_._1).map(_._2.toArray)
    val rows = spark.read.schema(CodebookSchema).parquet(s"$path/resid_codebooks")
      .as[(Int, Int, Seq[Float])].collect()
    val out = Array.ofDim[Array[Float]](rows.map(_._1).max + 1, rows.map(_._2).max + 1)
    rows.foreach { case (mi, ki, c) => out(mi)(ki) = c.toArray }
    require(out.forall(_.forall(_ != null)), s"IndexStore: sparse residual grid at $path")
    (cents, out)
  }

  /** Persist the FULL composed stack — OPQ rotation + IVFADC — the
    * `OPQ,IVF,PQ` index a production deployment actually serves: the
    * learned rotation lands as its own tiny artifact next to the
    * rotated-space IVF layout (cells + residual codebooks + cell-
    * partitioned codes of the ROTATED corpus). */
  def writeOpqIvfIndex(
      corpus: DataFrame,
      path: String,
      rotation: Array[Array[Double]],
      coarseCentroids: Array[Array[Float]],
      residCodebooks: Array[Array[Array[Float]]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    rotation.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("i", "row")
      .repartition(1).write.mode("overwrite").parquet(s"$path/rotation")
    val rotated = corpus.select(
      col(idCol), Opq.rotateCol(col(vecCol), rotation).as(vecCol))
    writeIvfPqIndex(rotated, path, idCol, vecCol,
      coarseCentroids = coarseCentroids, residCodebooks = residCodebooks)
  }

  /** Load the rotation artifact back (dim rows — bounded). */
  def readRotation(spark: SparkSession, path: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.schema(RotationSchema).parquet(s"$path/rotation")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
  }

  /** Serve the composed index: rotate each query with the PERSISTED
    * rotation (one codegen'd mat-vec), then the cell-pruned IVFADC
    * serving path — no training, no encode, bit-identical to the
    * in-session composed pipeline built from the same artifacts. */
  def serveOpqIvfTopK(
      queries: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10,
      nProbe: Int = 3): DataFrame = {
    val rot = readRotation(queries.sparkSession, path)
    val rotQ = queries.select(
      col(idCol), Opq.rotateCol(col(vecCol), rot).as(vecCol))
    serveIvfPqTopK(rotQ, path, idCol, vecCol, k, nProbe)
  }

  /** Incremental IVF maintenance — the PQ-append contract applied to
    * the composed layout: new vectors are routed and residual-coded
    * with the PERSISTED coarse centroids + codebooks (read back, never
    * retrained) and appended into the cell-partitioned codes table.
    * Append cost is one elementwise scan over the delta; dynamic
    * append into `partitionBy(cell)` lands each delta row in its cell
    * directory, so serving's partition pruning keeps working with no
    * compaction step. */
  def appendToIvfPqIndex(
      newVectors: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val (cents, cbs) = readIvfArtifacts(newVectors.sparkSession, path)
    IvfPq.encodeIvfLists(newVectors, cents, cbs, idCol, vecCol)
      .write.mode("append").partitionBy("cell").parquet(
        graft.util.ArtifactTree.resolve(newVectors.sparkSession, path, "ivf_codes"))
  }

  /** Serve IVFADC top-k entirely from the persisted index: no k-means,
    * no encode scan — the probes' broadcast join against the
    * cell-partitioned codes prunes unprobed cells dynamically. Results
    * are bit-identical to the in-session [[IvfPq.ivfPqTopK]] built from
    * the same artifacts (shared query stages). */
  def serveIvfPqTopK(
      queries: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10,
      nProbe: Int = 3): DataFrame = {
    val spark = queries.sparkSession
    val (cents, cbs) = readIvfArtifacts(spark, path)
    val lists = graft.util.SchemaMemo.parquet(spark,
      graft.util.ArtifactTree.resolve(spark, path, "ivf_codes"))
      .select(col("neighbor_id"), col("cell").cast("int").as("cell"), col("codes"))
    // tombstones ride the excludeIds hook (post-cell-join anti-join),
    // NOT a filter on the lists scan — that would sit between the
    // partitioned read and the probe join and defeat the dynamic
    // partition pruning (spec-pinned)
    IvfPq.ivfPqTopKFromLists(lists, queries, cents, cbs, idCol, vecCol, k, nProbe,
      excludeIds = tombstones(spark, path))
  }

  /** Per-cell index statistics — the ops surface every production IVF
    * deployment watches (FAISS `invlists` sizes, re-expressed): code
    * counts expose cell imbalance (a hot cell caps probe parallelism
    * and is the signal to retrain the coarse quantizer), and tombstone
    * counts expose takedown debt (how much dead weight the next
    * compaction reclaims). One codes scan + a broadcast tombstone tag;
    * the aggregate is nCells rows. */
  def describeIvfIndex(spark: SparkSession, path: String): DataFrame = {
    val codes = graft.util.SchemaMemo.parquet(spark,
      graft.util.ArtifactTree.resolve(spark, path, "ivf_codes"))
      .select(col("neighbor_id"), col("cell").cast("int").as("cell"))
    val tagged = tombstones(spark, path) match {
      case None => codes.withColumn("dead", lit(false))
      case Some(t) =>
        codes
          .join(broadcast(t.select(col("neighbor_id")).distinct()
            .withColumn("dead", lit(true))), Seq("neighbor_id"), "left")
          .withColumn("dead", coalesce(col("dead"), lit(false)))
    }
    tagged
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_codes"),
        sum(when(col("dead"), 1L).otherwise(0L)).as("n_tombstoned"))
      .orderBy("cell")
  }

  /** Serve top-k from the persisted index: ADC shortlist over the stored
    * codes, exact cosine re-rank against the vector table. No training,
    * no corpus encode — the build job already paid both. */
  def servePqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10,
      shortlistK: Int = 40): DataFrame = {
    val spark = corpus.sparkSession
    val cbs = readCodebooks(spark, path)
    val codes = live(readCodes(spark, path), spark, path)
    val shortlist = ProductQuant
      .adcTopK(codes, queries, cbs, idCol, vecCol, shortlistK)
      .select(col("query_id"), col("neighbor_id"))
    ProductQuant.rerankShortlist(shortlist, queries, corpus, idCol, vecCol, k)
  }
}
