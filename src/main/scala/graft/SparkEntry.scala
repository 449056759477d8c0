package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{Bpe, Concordance, TextAnalysis, TextFunctions, Tokenize, TokenFrequencies, TokenizerModels, WordPieceTokenizer}
import graft.util.{Scratch, Settings}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is a lazy DataFrame program over the parquet
  * tables in the given sf directory; entries with a DuckDB-equivalent
  * formulation also appear in `oracleSql` (same column names, same row
  * order, doubles rounded to 6 decimals on both sides so the driver's
  * hash compare is stable across engines).
  */
object SparkEntry {

  /** Table-schema memo (round 21, guide §1/§6): a schemaless parquet
    * read runs a footer-inference JOB per call (~30 ms + a driver gap),
    * and the 176 queries re-infer the same handful of table schemas on
    * every invocation. A catalog/metastore holds exactly this metadata
    * once; the memo models it per JVM — first read of a path infers,
    * later reads supply the schema explicitly. DATA is re-read from
    * parquet on every query invocation as before; only schema METADATA
    * is reused (the same once-per-JVM posture as the store-format
    * schemas in the index stores). Keyed on the full path, so multiple
    * sf dirs in one JVM never cross. */
  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    // Round 22 (ADVICE r21): the memo key now carries a freshness token
    // (file mtime+size), so a testdata parquet regenerated at the same
    // path in-process re-infers instead of serving a stale schema.
    graft.util.SchemaMemo.parquet(spark, s"$dir/$name.parquet")

  /** Event-time column normalized to TIMESTAMP, robust to the physical
    * parquet encoding of `events.ts` across testdata generations:
    *   - TIMESTAMP(MICROS, adjusted)     → read as TIMESTAMP; as-is;
    *   - TIMESTAMP(MICROS, not adjusted) → read as TIMESTAMP_NTZ; cast to
    *     TIMESTAMP (session TZ is UTC everywhere, so the instant equals
    *     what DuckDB's naive TIMESTAMP sees). The cast matters:
    *     watermarks/event-time require TIMESTAMP, and downstream epoch
    *     arithmetic (range-join granules) can't cast NTZ to BIGINT;
    *   - legacy TIMESTAMP(NANOS) → surfaces as a LONG under the
    *     `nanosAsLong` conf; nanos DIV 1000 is the exact-micros conversion.
    * Branching on the READ dtype (not a conf or a version check) keeps the
    * same code correct under any of the three encodings.
    */
  private[graft] def normalizedTs(df: DataFrame, tsCol: String): org.apache.spark.sql.Column =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr(s"timestamp_micros(CAST($tsCol DIV 1000 AS LONG))")
      case org.apache.spark.sql.types.TimestampNTZType =>
        col(tsCol).cast(org.apache.spark.sql.types.TimestampType)
      case _ => col(tsCol)
    }

  /** The events table with `ts` normalized via [[normalizedTs]]. The
    * `nanosAsLong` conf is set before the read — a no-op on MICROS-encoded
    * data, required for the footer to parse at all on NANOS-encoded data. */
  private[graft] def eventsWithTs(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The TIMESTAMP_NTZ→TIMESTAMP cast in normalizedTs is instant-
    // preserving only under a UTC session — self-apply it here (like the
    // nanosAsLong conf above) so a caller that forgot the conf gets the
    // same instants as Verify/Bench, not silently shifted timestamps.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val ev = tbl(s, dir, "events")
    ev.withColumn("ts", normalizedTs(ev, "ts"))
  }

  /** Start a STATEFUL stream under `n` shuffle partitions and restore the
    * session conf after. Every state-store-backed streaming operator pays
    * a fixed per-partition cost per micro-batch (store open + checkpoint
    * commit; a stream-stream join owns FOUR stores per partition), which
    * dominates at small per-key state — the standard state-heavy tuning
    * is fewer, fatter partitions. The conf is read when the stream
    * STARTS, so the scope is exactly the `start()` call. */
  private def withStreamShufflePartitions[T](s: SparkSession, n: Int)(start: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try start
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }
  /** State-store shuffle partitions for the stateful streams — the
    * fewer-fatter-partitions state tuning (r17: 8), now parameterised
    * for ops (`-Dgraft.stream.stateParts=N`) and re-measured r21 by
    * interleaved A/B: 4 beats 8 on the store-heaviest streams
    * (stream-stream join 2.85→2.30 s — four stores per partition — and
    * late_windows 1.92→1.69 s) with no regression elsewhere; 2 vs 4 is
    * a wash, so 4 is the local default. Production: scale with state
    * VOLUME (partitions sized so per-partition state stays ~100–200 MB),
    * never this constant — the knob exists exactly so a deployment sets
    * it from its own state size. */
  private[graft] def StreamStateParts: Int =
    Settings.int("graft.stream.stateParts", sys.props.get("graft.stream.stateParts"), 4)

  /** Scratch cache root for the cached-tokenize query — one per JVM so a
    * bench's warmup pass populates what its timed pass reads. */
  private lazy val tokCacheDir: String = Scratch.dir("tokcache").toString

  /** File streams list a directory; the testdata ships single parquet
    * files. Stage a copy once per (JVM, source file) — repeated bench
    * passes reuse it. The read-only source is never touched. */
  private def stagedDir(src: String): String =
    Scratch.once("stream-stage", src) { d =>
      // PER-QUERY SINGLE-FILE INVARIANT: the stream oracles that use THIS
      // staging (q_stream_stream_join above all) equal their batch SQL
      // only because AvailableNow over a one-file directory runs exactly
      // one micro-batch, so the initial watermark never drops a late
      // match. Queries whose oracle MODELS the multi-batch watermark
      // semantics stage through [[stagedMultiDir]] instead — the
      // invariant is a per-query contract, not a global one. If the
      // testdata ever becomes a multi-file parquet directory, fail loudly
      // here instead of surfacing as a nondeterministic oracle mismatch.
      val p = java.nio.file.Paths.get(src)
      require(java.nio.file.Files.isRegularFile(p),
        s"stagedDir expects a single parquet FILE (one micro-batch posture); got $src")
      java.nio.file.Files.copy(p, java.nio.file.Paths.get(d, p.getFileName.toString))
      d
    }

  /** Multi-batch staging: the source table split into THREE single-file
    * parquets by `event_id % 10` (1–7 → batch-0, 8–9 → batch-1,
    * ≡0 → batch-2) with strictly increasing modification times, so a
    * file stream under `maxFilesPerTrigger=1` + AvailableNow processes
    * them as three ORDERED micro-batches. The split rule is pure SQL
    * over the row ids, which is what lets the DuckDB oracle re-derive
    * each batch's watermark and the exact late-row drops — the
    * multi-batch posture [[stagedDir]]'s single-file invariant exists to
    * avoid, modeled instead of avoided. */
  private[graft] def stagedMultiDir(s: SparkSession, src: String): String =
    Scratch.once("stream-stage3", src) { d =>
      import scala.jdk.CollectionConverters._
      val base = s.read.parquet(src)
      val batches = java.nio.file.Paths.get(sub(d, "batches"))
      def writeOne(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$d/part-$name"
        df.repartition(1).write.mode("overwrite").parquet(tmp)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part written for $name"))
        val dst = batches.resolve(name)
        java.nio.file.Files.move(part, dst)
        require(dst.toFile.setLastModified(mtime), s"cannot set mtime on $dst")
      }
      val t0 = System.currentTimeMillis() - 600000L
      val m = col("event_id") % 10
      writeOne(base.filter(m =!= 0 && m < 8), "batch-0.parquet", t0)
      writeOne(base.filter(m >= 8), "batch-1.parquet", t0 + 60000L)
      writeOne(base.filter(m === 0), "batch-2.parquet", t0 + 120000L)
      batches.toString
    }

  /** An empty directory `name` inside fixture directory `d`. */
  private def sub(d: String, name: String): String =
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d, name)).toString

  /** Offline WordPiece fixture: the in-repo `vocab.txt` covers the corpus
    * vocabulary with 25 whole words + 6 two-piece decompositions, so the
    * greedy longest-match output is hand-derivable (and SQL-recomputable
    * for the oracle). Registered once, lazily, under a `local:` id —
    * exercising the registry's non-native path end-to-end. */
  val WordPieceModelId = "local:wordpiece-fixture"

  // Shared by the q_seq_pack closure and its oracle SQL (constants hoisted
  // so the two sides cannot drift — the ivfOracleSql lesson).
  val SeqPackBudget = 512
  val SeqPackShards = 8

  /** Merges learned by the BPE query surface. The sf corpora support ~89
    * merges before pair exhaustion (31-word vocabulary); 24 exercises
    * several batched rounds including new-pair-vs-old-pair ties while
    * keeping the unrolled oracle CTE chain readable. */
  val BpeNumMerges = 24

  // Shared by q_encode_ids / q_domain_mix / q_curation_pipeline and
  // their oracle SQL.
  val EncodeDim = 1 << 20
  val CurationDupFracMax = 0.6 // median dup_word_frac on this corpus ~0.54
  val SpanDedupWords = 10
  val ShingleWords = 8 // q_span_dedup_s1 + its oracle
  val WinnowK = 4 // q_winnow shingle size
  val WinnowW = 4 // q_winnow window
  val BigramLambda = 0.75 // exact binary fraction; 1-λ = 0.25 exact too
  // trigram interpolation weights (q_perplexity_trigram): derived values
  // (1-λ₂, 1-λ₃-λ₂) are COMPUTED in Scala and interpolated into the
  // oracle SQL, so both engines multiply by bit-identical doubles even
  // where the difference is not an exact binary fraction
  val TrigramL3 = 0.5
  val TrigramL2 = 0.3
  // Bloom decontamination config shared by the q_decontaminate_bloom
  // closure and its oracle: n-gram size, power-of-two bit count (must
  // divide 2^64 — the signed/unsigned fold argument), hash count.
  val BloomN = 3
  val BloomM = 1 << 16
  val BloomK = 3
  val CoocWindow = 3
  // Per-doc token cap shared by the q_cooc_pmi closure AND its oracle SQL
  // (toks[1:cap]) — an uncapped oracle would silently diverge on a corpus
  // with one mega-document while the engine truncates.
  val CoocMaxTokens = 1 << 17
  val MixRates = Map("en" -> 0.5, "zh" -> 0.75) // exact binary fractions:
  val MixDefault = 0.25 // rate*1000 truncates identically in both engines
  val MixTempFrac = 0.5 // q_domain_mix_temp target fraction (exact binary)

  // Shared by the q_knn_ivf closure and ivfOracleSql: editing either side
  // alone must be a compile-time impossibility, not a verify surprise.
  val IvfCells = 8
  val IvfSeed = 42L
  val IvfSampleSize = 10000
  val IvfProbe = 3
  val IvfK = 10
  val IvfQueryMax = 5 // query set = vec_id < IvfQueryMax

  /** Product quantization: 64-dim embeddings → 8 subspaces × 16-centroid
    * codebooks (8 codes per vector, a 32× memory cut). */
  val PqM = 8
  val PqCent = 16
  val PqShortlist = 40 // ADC candidates per query fed to the exact re-rank

  /** Bounded memo for trained ANN index artifacts (coarse centroids, PQ
    * codebooks, residual codebooks), keyed by (data dir, every training
    * parameter). Training is deterministic, so q_pq_codes / q_knn_pq /
    * q_knn_pq_rerank / q_knn_ivfpq and their oracle builders share ONE
    * training per verify run instead of ~5 redundant sample-collect +
    * Lloyd passes (the Bpe.trainedFor pattern, applied to PQ/IVF). Plain
    * driver-side float arrays — no executor blocks pinned — but bounded
    * anyway so long-lived JVMs crossing many dirs don't accumulate. */
  private val trainedIndexMemo =
    new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, AnyRef]): Boolean =
        size() > 32
    }
  private def memoTrained[T <: AnyRef](key: String)(train: => T): T =
    trainedIndexMemo.synchronized {
      val hit = trainedIndexMemo.get(key)
      if (hit != null) hit.asInstanceOf[T]
      else { val v = train; trainedIndexMemo.put(key, v); v }
    }
  private[graft] def pqCodebooksFor(s: SparkSession, dir: String): Array[Array[Array[Float]]] =
    memoTrained(s"pqcb|$dir|$PqM|$PqCent|$IvfSeed|$IvfSampleSize") {
      graft.similarity.ProductQuant.trainedCodebooks(
        tbl(s, dir, "embeddings"), "vec_id", "embedding", PqM, PqCent, IvfSeed, IvfSampleSize)
    }
  private[graft] def ivfCentroidsFor(s: SparkSession, dir: String): Array[Array[Float]] =
    memoTrained(s"ivfcent|$dir|$IvfCells|$IvfSeed|$IvfSampleSize") {
      graft.similarity.Similarity.trainedCentroids(
        tbl(s, dir, "embeddings"), "vec_id", "embedding", IvfCells, IvfSeed, IvfSampleSize)
    }
  private[graft] def ivfResidCodebooksFor(s: SparkSession, dir: String): Array[Array[Array[Float]]] =
    memoTrained(s"ivfrcb|$dir|$IvfCells|$PqM|$PqCent|$IvfSeed|$IvfSampleSize") {
      graft.similarity.IvfPq.trainedResidualCodebooks(
        tbl(s, dir, "embeddings"), ivfCentroidsFor(s, dir), "vec_id", "embedding",
        PqM, PqCent, IvfSeed, IvfSampleSize)
    }

  private[graft] def opqFor(
      s: SparkSession, dir: String): (Array[Array[Double]], Array[Array[Array[Float]]]) =
    memoTrained(s"opq|$dir|$PqM|$PqCent|$IvfSeed|$IvfSampleSize") {
      graft.similarity.Opq.trainedRotation(
        tbl(s, dir, "embeddings"), "vec_id", "embedding",
        PqM, PqCent, IvfSeed, IvfSampleSize)
    }

  /** OPQ composed with IVFADC (Ge 2013 §5 / the FAISS `OPQ,IVF,PQ`
    * production stack): the learned rotation is the PRE-TRANSFORM, and
    * the coarse quantizer + residual codebooks are trained in the
    * ROTATED space — rotating after training the cells would misalign
    * the residuals the codes quantize. */
  private[graft] def opqIvfFor(s: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Float]], Array[Array[Array[Float]]]) =
    memoTrained(s"opqivf|$dir|$IvfCells|$PqM|$PqCent|$IvfSeed|$IvfSampleSize") {
      val (rot, _) = opqFor(s, dir)
      val rotEmb = tbl(s, dir, "embeddings").select(
        col("vec_id"), graft.similarity.Opq.rotateCol(col("embedding"), rot).as("embedding"))
      val cents = graft.similarity.Similarity.trainedCentroids(
        rotEmb, "vec_id", "embedding", IvfCells, IvfSeed, IvfSampleSize)
      val rcbs = graft.similarity.IvfPq.trainedResidualCodebooks(
        rotEmb, cents, "vec_id", "embedding", PqM, PqCent, IvfSeed, IvfSampleSize)
      (rot, cents, rcbs)
    }

  /** One persisted PQ index per (JVM, data dir) — the BUILD job of the
    * persist-and-serve contract, run lazily the first time a serving
    * query needs it (a bench's warmup pass builds, timed passes serve). */
  private def pqIndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("pq-index", dir) { d =>
      graft.similarity.IndexStore.writePqIndex(
        tbl(s, dir, "embeddings"), d, "vec_id", "embedding",
        PqM, PqCent, IvfSeed, IvfSampleSize, pqCodebooksFor(s, dir))
      d
    }

  /** The corpus written hive-partitioned by `lang`, once per (JVM, dir)
    * — the layout partition pruning needs. */
  private def partitionedDocsDirFor(s: SparkSession, dir: String): String =
    Scratch.once("part-docs", dir) { d =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(s"$d/docs")
      s"$d/docs"
    }

  /** Orders + lineitem as EXTERNAL tables bucketed by the join key (8
    * buckets, sorted within buckets), once per (JVM, dir): both sides
    * hash-clustered identically, so the fact-fact join — and any
    * aggregation keyed on the same column — plans with zero
    * hashpartitioning exchanges. External paths (temp dirs) keep the
    * in-memory catalog free of warehouse/metastore state. */
  private val bucketedRoots = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def bucketedTablesFor(s: SparkSession, dir: String): (String, String) = {
    // table names are dir-scoped (hash suffix) so two data dirs in one
    // JVM never overwrite each other's catalog entries, and a memo hit
    // is only trusted if the tables still exist in THIS session's
    // catalog (a fresh SparkSession in the same JVM starts empty)
    val suffix = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff)
    val names = (s"graft_orders_b_$suffix", s"graft_lineitem_b_$suffix")
    bucketedRoots.compute(dir, { (_, prev) =>
      if (prev != null && s.catalog.tableExists(prev._1) &&
          s.catalog.tableExists(prev._2)) prev
      else {
        val d = Scratch.dir("bucketed").toString
        tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$d/orders_b").saveAsTable(names._1)
        tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$d/lineitem_b").saveAsTable(names._2)
        names
      }
    })
  }

  /** The INCREMENTAL variant: index built over half the corpus, the
    * other half appended as a delta (codebooks read back from the
    * index, never retrained). Same final code table as the one-shot
    * build — which is the whole point — so the serving query shares the
    * exact oracle. */
  private def pqAppendedIndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("pq-index-append", dir) { d =>
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore.writePqIndex(
        emb.filter(col("vec_id") % 2 === 0), d, "vec_id", "embedding",
        PqM, PqCent, IvfSeed, IvfSampleSize, pqCodebooksFor(s, dir))
      graft.similarity.IndexStore.appendToPqIndex(
        emb.filter(col("vec_id") % 2 =!= 0), d)
      d
    }

  /** One persisted MinHash-LSH dedup index per (JVM, dir) over the
    * doc_id%3≠0 two-thirds of the corpus — the incremental-curation
    * BUILD job; probe queries near-dup-check the held-out third against
    * it (bench warmup builds, timed passes probe). Config matches
    * q_minhash_pairs so the oracle reuses the signature CTEs. */
  private def dedupIndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("dedup-index", dir) { d =>
      graft.dedup.DedupIndexStore.writeDedupIndex(
        tbl(s, dir, "documents").filter(col("doc_id") % 3 =!= 0), d,
        "text", "doc_id", numHashes = 32, shingleSize = 3, bands = 32, seed = 42L)
      d
    }

  /** The daily-curation pipeline composed over the FULL persisted
    * triple — the production loop a training-data platform runs every
    * day, as ONE oracle-gated fixture:
    *
    *   snapshot diff (what's actually new in today's delivery)
    *     → decontaminate (drop fresh docs sharing an n-gram with the
    *       eval split)
    *     → dedup-index probe (drop fresh docs near-duplicating the
    *       at-rest corpus — no corpus recompute, artifacts only)
    *     → survivors appended to all THREE stores: signatures+bands
    *       into the dedup index, postings+doclens into the BM25 index,
    *       and fixture-EMBEDded vectors into the cell-partitioned ANN
    *       index (persisted centroids, never retrained)
    *     → stats read back from all three.
    *
    * The world: at-rest corpus = doc_id%3≠0 (already in every store —
    * the existing dedup-index fixture IS the at-rest dedup store);
    * today's delivery = %3=0; yesterday's delivery = %3=0 ∧ %5≠2, so
    * the diff's added set = %3=0 ∧ %5=2. Delivery ids are disjoint
    * from the at-rest corpus, satisfying every store's new-ids-only
    * append contract by construction. Scale posture: the diff bounds
    * all downstream cost to the delta, the probe reads each
    * corpus-sized artifact once with every join broadcast, and each
    * append is delta-sized work against persisted artifacts — no step
    * recomputes anything corpus-sized. Survivors are staged through a
    * temp parquet (ONE probe pass feeds three appends + the count;
    * the library-wide no-cache-residue rule). */
  private final case class DailyPipeline(
      dedupDir: String, bm25Dir: String, annDir: String,
      nDelivery: Long, nFresh: Long, nClean: Long, nSurvivors: Long)

  val DailyAnnCells = 4

  /** Fixture-embedded documents as an ANN-corpus view `(vec_id,
    * embedding)` — the embed leg of the daily pipeline (the FnvDigit
    * fixture keeps the geometry exactly SQL-replayable). */
  private def embedDocsFixture(docs: org.apache.spark.sql.DataFrame) = {
    embedFixtureRegistered
    graft.embed.Embedders
      .embed(docs.select(col("doc_id"), col("text")), "text", modelId = EmbedFixtureModelId)
      .select(col("doc_id").as("vec_id"), col("embedding"))
  }

  /** The daily ANN store's coarse centroids, trained ONCE on the
    * fixture-embedded at-rest corpus and shared with the oracle builder
    * (exported as SQL literals, like [[ivfCentroidsFor]]). */
  private[graft] def dailyAnnCentroidsFor(s: SparkSession, dir: String): Array[Array[Float]] =
    memoTrained(s"dailyann|$dir|$DailyAnnCells|$IvfSeed|$IvfSampleSize") {
      graft.similarity.Similarity.trainedCentroids(
        embedDocsFixture(tbl(s, dir, "documents").filter(col("doc_id") % 3 =!= 0)),
        "vec_id", "embedding", DailyAnnCells, IvfSeed, IvfSampleSize)
    }

  /** The document-embedding IVFADC store behind the SERVED hybrid stack:
    * fixture-embedded documents (exactly SQL-replayable) encoded into
    * the cell-partitioned composed layout once per JVM. Centroids and
    * residual codebooks are memoized so the oracle builder exports the
    * SAME trained artifacts as literals. */
  val DocAnnCells = 4
  private[graft] def docAnnCentroidsFor(s: SparkSession, dir: String): Array[Array[Float]] =
    memoTrained(s"docann|$dir|$DocAnnCells|$IvfSeed|$IvfSampleSize") {
      graft.similarity.Similarity.trainedCentroids(
        embedDocsFixture(tbl(s, dir, "documents")),
        "vec_id", "embedding", DocAnnCells, IvfSeed, IvfSampleSize)
    }
  private[graft] def docAnnResidFor(s: SparkSession, dir: String): Array[Array[Array[Float]]] =
    memoTrained(s"docannr|$dir|$DocAnnCells|2|8|$IvfSeed|$IvfSampleSize") {
      graft.similarity.IvfPq.trainedResidualCodebooks(
        embedDocsFixture(tbl(s, dir, "documents")), docAnnCentroidsFor(s, dir),
        "vec_id", "embedding", 2, 8, IvfSeed, IvfSampleSize)
    }
  private def docAnnIndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("docann-index", dir) { d =>
      graft.similarity.IndexStore.writeIvfPqIndex(
        embedDocsFixture(tbl(s, dir, "documents")), d,
        nCells = DocAnnCells, m = 2, kCent = 8, seed = IvfSeed,
        coarseCentroids = docAnnCentroidsFor(s, dir),
        residCodebooks = docAnnResidFor(s, dir))
      d
    }

  /** The document IVFADC store with the SAME takedown as the deleted
    * BM25 index (doc_id%9==4): a copy of the base artifacts with the
    * ids tombstoned — the ANN half of the hybrid-under-takedown
    * fixture (a takedown hits both serving tiers of the hybrid stack
    * at once in production). */
  private def docAnnDeletedIndexDirFor(s: SparkSession, dir: String): String =
    variantOf("docann-index-del", dir, docAnnIndexDirFor(s, dir)) { d =>
      graft.similarity.IndexStore.deleteFromIndex(
        tbl(s, dir, "documents").filter(col("doc_id") % 9 === 4)
          .select(col("doc_id").as("vec_id")), d)
    }

  /** The hybrid QUERY LOG drained as a stream: the q_hybrid_served_batch
    * batch split across two files → two micro-batches, each served via
    * ONE rrfServedBatch plan against the static persisted pair and
    * landed in a batch-id-scoped directory with overwrite semantics
    * (the idempotent-sink construction every ingest path uses). The
    * streamed union shares the one-shot batch oracle — per-query
    * results are batch-split-invariant by the per-call parity
    * contract. */
  private def hybridStreamServeDirFor(s: SparkSession, dir: String): String =
    Scratch.once("hyb-serve-stream", dir) { d =>
      import s.implicits._
      embedFixtureRegistered
      val bm25 = bm25IndexDirFor(s, dir)
      val ann = docAnnIndexDirFor(s, dir)
      serveStream(s, d, Seq(
        Seq((1L, Seq("spark", "join", "window"), "spark join window"))
          .toDF("query_id", "terms", "text"),
        Seq(
          (2L, Seq("scan", "filter"), "scan filter pushdown"),
          (3L, Seq("sort", "merge", "hash"), "hash merge sort"))
          .toDF("query_id", "terms", "text"))) { batch =>
        graft.similarity.HybridSearch.rrfServedBatch(batch, bm25, ann, EmbedFixtureModelId,
          k = 20, poolK = 20, nProbe = 3)
      }
    }

  /** The document-REPLACE lifecycle — the stores' documented contract
    * ("replacing a document is delete → compact → append") exercised
    * end-to-end on each store and put under the DuckDB gate: after the
    * cycle, every serve/probe must equal a store built directly over
    * the corpus with the replacement text. Replace rule: `%17==3` docs
    * get " refreshed edition" appended (token-visible, dl-visible, and
    * embedding-visible, so staleness in ANY artifact — postings,
    * doclens, stats, signatures, bands, codes — fails the hash). */
  private val ReplaceTextSql =
    "CASE WHEN doc_id % 17 = 3 THEN coalesce(text, '') || ' refreshed edition' ELSE text END"
  private def replacedDocs(docs: org.apache.spark.sql.DataFrame) =
    docs.withColumn("text",
      when(col("doc_id") % 17 === 3,
        concat(coalesce(col("text"), lit("")), lit(" refreshed edition")))
        .otherwise(col("text")))

  private def bm25ReplacedIndexDirFor(s: SparkSession, dir: String): String =
    variantOf("bm25-replace", dir, bm25IndexDirFor(s, dir)) { d =>
      val repl = replacedDocs(tbl(s, dir, "documents")).filter(col("doc_id") % 17 === 3)
      graft.similarity.Bm25IndexStore.deleteFromBm25Index(repl.select("doc_id"), d)
      graft.similarity.Bm25IndexStore.compactBm25Index(s, d)
      graft.similarity.Bm25IndexStore
        .appendToBm25Index(repl, d, "text", "doc_id", batchId = "replace")
    }

  private def dedupReplacedIndexDirFor(s: SparkSession, dir: String): String =
    variantOf("dedup-replace", dir, dedupIndexDirFor(s, dir)) { d =>
      val repl = replacedDocs(tbl(s, dir, "documents"))
        .filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 17 === 3)
      graft.dedup.DedupIndexStore.deleteFromDedupIndex(repl.select("doc_id"), d)
      graft.dedup.DedupIndexStore.compactDedupIndex(s, d)
      graft.dedup.DedupIndexStore
        .appendToDedupIndex(repl, d, "text", "doc_id", batchId = "replace")
    }

  private def docAnnReplacedIndexDirFor(s: SparkSession, dir: String): String =
    variantOf("docann-replace", dir, docAnnIndexDirFor(s, dir)) { d =>
      val repl = embedDocsFixture(
        replacedDocs(tbl(s, dir, "documents")).filter(col("doc_id") % 17 === 3))
      graft.similarity.IndexStore.deleteFromIndex(repl.select("vec_id"), d)
      graft.similarity.IndexStore.compactIvfIndex(s, d)
      graft.similarity.IndexStore.appendToIvfPqIndex(repl, d)
    }

  /** The three store-stat rows both daily-pipeline queries read back:
    * dedup (docs, band buckets), BM25 (docs, posting rows), ANN (codes,
    * cells used). */
  private def pipelineStoreStats(
      s: SparkSession, p: DailyPipeline): org.apache.spark.sql.DataFrame = {
    val dstats = graft.dedup.DedupIndexStore.describeDedupIndex(s, p.dedupDir)
      .select(lit("dedup_index").as("stage"), col("n_docs"),
        col("n_buckets").as("n_units"))
    val bstats = graft.similarity.Bm25IndexStore.describeBm25Index(s, p.bm25Dir)
      .select(lit("bm25_index").as("stage"), col("n_docs"),
        col("n_postings").as("n_units"))
    val astats = graft.similarity.IndexStore.describeIvfIndex(s, p.annDir)
      .agg(coalesce(sum("n_codes"), lit(0L)).as("n_docs"),
        count(lit(1)).as("n_units"))
      .select(lit("ann_index").as("stage"), col("n_docs"), col("n_units"))
    dstats.unionByName(bstats).unionByName(astats)
  }

  /** One day of the daily loop: today's delivery (doc_id%3=0) diffed
    * against `yesterday(delivery)`, decontaminated and probed; the
    * survivors staged once, then `land(atRest, survivors)` appends them
    * to the three stores and returns their directories. */
  private def dailyRun(s: SparkSession, dir: String, d: String, yesterday: DataFrame => DataFrame)(
      land: (DataFrame, DataFrame) => (String, String, String)): DailyPipeline = {
    val docs = tbl(s, dir, "documents")
    val atRest = docs.filter(col("doc_id") % 3 =!= 0)
    val delivery = docs.filter(col("doc_id") % 3 === 0)
    // 1. diff gates everything downstream to the genuinely-new docs
    val fresh = graft.dedup.Dedup.snapshotDiff(yesterday(delivery), delivery)
      .filter(col("status").isin("added", "changed"))
      .select("doc_id")
    val freshDocs = delivery.join(fresh, Seq("doc_id"))
    // 2. decontaminate against the eval split (3-gram overlap)
    val evalSplit = atRest.filter(col("doc_id") % 11 === 0)
    val contaminated = graft.dedup.Decontaminate
      .overlap(evalSplit, freshDocs, "text", "doc_id", n = 3)
      .select("doc_id")
    val clean = freshDocs.join(contaminated, Seq("doc_id"), "left_anti")
    // 3. near-dup probe against the at-rest dedup store (artifacts only)
    val matched = graft.dedup.DedupIndexStore
      .probeDedupIndex(clean, dedupIndexDirFor(s, dir), "text", "doc_id",
        threshold = 0.125)
      .select(col("id_new").as("doc_id")).distinct()
    val stage = sub(d, "stage")
    clean.join(matched, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$stage/survivors")
    // explicit schema: an empty survivor stage may land with no part
    // files, and schema inference over an empty dir throws
    val surv = s.read.schema(delivery.schema).parquet(s"$stage/survivors")
    // 4. survivors land in all three stores (delta-sized appends)
    val (dd, bd, ad) = land(atRest, surv)
    DailyPipeline(dd, bd, ad,
      delivery.count(), freshDocs.count(), clean.count(), surv.count())
  }

  private def dailyPipelineFor(s: SparkSession, dir: String): DailyPipeline =
    Scratch.once("daily", dir) { d =>
      dailyRun(s, dir, d, _.filter(col("doc_id") % 5 =!= 2)) { (atRest, surv) =>
        val dd = sub(d, "dedup")
        copyTree(dedupIndexDirFor(s, dir), dd)
        graft.dedup.DedupIndexStore
          .appendToDedupIndex(surv, dd, "text", "doc_id", batchId = "daily")
        val bd = sub(d, "bm25")
        graft.similarity.Bm25IndexStore
          .writeBm25Index(atRest, bd, "text", "doc_id", nBuckets = 16)
        graft.similarity.Bm25IndexStore
          .appendToBm25Index(surv, bd, "text", "doc_id", batchId = "daily")
        val ad = sub(d, "ann")
        graft.similarity.IndexStore.writeIvfPqIndex(
          embedDocsFixture(atRest), ad, nCells = DailyAnnCells, m = 2, kCent = 8,
          seed = IvfSeed, coarseCentroids = dailyAnnCentroidsFor(s, dir))
        graft.similarity.IndexStore.appendToIvfPqIndex(embedDocsFixture(surv), ad)
        (dd, bd, ad)
      }
    }

  /** DAY 2 of the daily loop, run FOR REAL against COPIES of the day-1
    * stores: the re-delivered batch goes through the full downstream —
    * diff, decontamination, probe, and all three APPENDS — with the
    * (empty) survivor set actually invoking each store's append path.
    * Idempotence under re-delivery is therefore the appends' measured
    * behavior under the oracle (stats must read back bit-for-bit as
    * day 1 left them), not a short-circuit assumption about what an
    * empty append WOULD do. */
  private def dailyPipelineDay2For(s: SparkSession, dir: String): DailyPipeline =
    Scratch.once("daily2", dir) { d =>
      val p = dailyPipelineFor(s, dir)
      // the same delivery re-arrives: yesterday IS today
      dailyRun(s, dir, d, identity) { (_, surv) =>
        val dd = sub(d, "dedup")
        copyTree(p.dedupDir, dd)
        graft.dedup.DedupIndexStore
          .appendToDedupIndex(surv, dd, "text", "doc_id", batchId = "daily2")
        val bd = sub(d, "bm25")
        copyTree(p.bm25Dir, bd)
        graft.similarity.Bm25IndexStore
          .appendToBm25Index(surv, bd, "text", "doc_id", batchId = "daily2")
        val ad = sub(d, "ann")
        copyTree(p.annDir, ad)
        graft.similarity.IndexStore.appendToIvfPqIndex(embedDocsFixture(surv), ad)
        (dd, bd, ad)
      }
    }

  /** Fixture plumbing: clone an index's artifact tree so a lifecycle
    * variant (delete, compact) starts from the SAME base artifacts
    * without re-signing/re-encoding the corpus — exactly the production
    * posture (a takedown never re-indexes the corpus), and one corpus-sized build
    * instead of three across the lifecycle fixtures. */
  private def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** A lifecycle variant of a fixture index, once per (JVM, dir): the
    * `base` tree copied into a fresh directory, then `mutate`d there. */
  private def variantOf(kind: String, dir: String, base: => String)(
      mutate: String => Unit): String =
    Scratch.once(kind, dir) { d => copyTree(base, d); mutate(d); d }

  /** Drain `slices` through a file stream, one slice file per
    * micro-batch: the slices land under `d/drop`, `start(stream, ckpt)`
    * starts the query over them, and its AvailableNow run is awaited. */
  private def drainSlices(s: SparkSession, d: String, slices: Seq[DataFrame])(
      start: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val drop = sub(d, "drop")
    for ((slice, i) <- slices.zipWithIndex)
      slice.coalesce(1).write.mode("overwrite").parquet(s"$drop/slice$i")
    val q = start(
      s.readStream.schema(slices.head.schema).option("maxFilesPerTrigger", "1").parquet(s"$drop/*"),
      sub(d, "ckpt"))
    try q.awaitTermination()
    finally q.stop()
  }

  /** A query log drained as a stream ([[drainSlices]]): each micro-batch
    * is served by `serve` and lands in `d/out/batch-<id>` with overwrite
    * semantics, so a replayed micro-batch rewrites its own directory.
    * Returns `d/out`. */
  private def serveStream(s: SparkSession, d: String, slices: Seq[DataFrame])(
      serve: DataFrame => DataFrame): String = {
    val out = sub(d, "out")
    drainSlices(s, d, slices) { (stream, ckpt) =>
      stream.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          serve(batch).write.mode("overwrite").parquet(s"$out/batch-$batchId")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    out
  }

  /** The INCREMENTAL dedup index: built over the %3==1 third, the %3==2
    * third appended under the persisted config — same artifacts as the
    * one-shot build, so the probe query shares its exact oracle. */
  private def dedupAppendedIndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("dedup-index-append", dir) { d =>
      val docsTbl = tbl(s, dir, "documents")
      graft.dedup.DedupIndexStore.writeDedupIndex(
        docsTbl.filter(col("doc_id") % 3 === 1), d,
        "text", "doc_id", numHashes = 32, shingleSize = 3, bands = 32, seed = 42L)
      graft.dedup.DedupIndexStore.appendToDedupIndex(
        docsTbl.filter(col("doc_id") % 3 === 2), d, "text", "doc_id")
      d
    }

  /** The STREAMING-INGESTED dedup index: base third built batch, the
    * %3==2 third arriving as a 3-file drop directory consumed by the
    * checkpointed AvailableNow stream (one file per micro-batch, each
    * landing both artifacts in batch-scoped delta dirs). Index contents
    * equal the one-shot %3≠0 build, so the probe shares its exact
    * oracle — which is precisely the exactly-once claim under the
    * DuckDB gate instead of only the spec. */
  private def dedupStreamIndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("dedup-index-stream", dir) { d =>
      val idx = sub(d, "index")
      val docsTbl = tbl(s, dir, "documents")
      graft.dedup.DedupIndexStore.writeDedupIndex(
        docsTbl.filter(col("doc_id") % 3 === 1), idx,
        "text", "doc_id", numHashes = 32, shingleSize = 3, bands = 32, seed = 42L)
      val delta = docsTbl.filter(col("doc_id") % 3 === 2)
      drainSlices(s, d, (0 until 3).map(i => delta.filter(col("doc_id") % 9 === (2 + 3 * i)))) {
        (stream, ckpt) => graft.dedup.DedupIndexStore
          .streamAppendToDedupIndex(stream, idx, ckpt, "text", "doc_id")
      }
      idx
    }

  /** The takedown index after COMPACTION: the tombstoned rows are
    * physically gone from both artifacts and the tombstones cleared —
    * the probe must see identical pairs to the logical-delete index,
    * but now because the rows don't exist rather than because an
    * anti-join hides them. */
  private def dedupCompactedIndexDirFor(s: SparkSession, dir: String): String =
    variantOf("dedup-index-compact", dir, dedupDeletedIndexDirFor(s, dir)) { d =>
      graft.dedup.DedupIndexStore.compactDedupIndex(s, d)
    }

  /** The takedown index compacted TWICE under `graceVersions = 2`
    * (round 19): retention is count-based, so the SECOND cycle is what
    * separates the knob from the default — under graceVersions=1 the
    * superseded legacy tree ("version 0") is GC'd on cycle two, under 2
    * it survives both (ArtifactTree.compact's gcCeiling arithmetic).
    * Probes must be bit-identical to the single default compaction
    * (shares q_dedup_index_compacted's oracle): retention changes what
    * superseded trees remain on disk, never what the resolved current
    * version serves. */
  private def dedupGraceIndexDirFor(s: SparkSession, dir: String): String =
    variantOf("dedup-index-grace", dir, dedupDeletedIndexDirFor(s, dir)) { d =>
      graft.dedup.DedupIndexStore.compactDedupIndex(s, d, graceVersions = 2)
      graft.dedup.DedupIndexStore.compactDedupIndex(s, d, graceVersions = 2)
      // the knob's disk-side observable, asserted at build so the oracle
      // query can't silently degrade into a rerun of the default fixture
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(d, "signatures")),
        "graceVersions=2 failed to retain the version-0 signatures tree across two cycles")
    }

  /** The dedup index with a takedown applied: one-shot build over the
    * %3≠0 corpus, then doc_id%5==1 tombstoned out — the delete is
    * logical (tombstones artifact), so probes must exclude those ids
    * with the physical rows still in place. */
  private def dedupDeletedIndexDirFor(s: SparkSession, dir: String): String =
    variantOf("dedup-index-del", dir, dedupIndexDirFor(s, dir)) { d =>
      val docsTbl = tbl(s, dir, "documents")
      graft.dedup.DedupIndexStore.deleteFromDedupIndex(
        docsTbl.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 1).select("doc_id"), d)
    }

  /** One persisted BM25 inverted index per (JVM, dir) over the full
    * documents table — the lexical serving tier's fixture (bench
    * warmup builds, timed passes serve). */
  private def bm25IndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("bm25-index", dir) { d =>
      graft.similarity.Bm25IndexStore.writeBm25Index(
        tbl(s, dir, "documents"), d, "text", "doc_id", nBuckets = 16)
      d
    }

  /** The STREAMING-INGESTED BM25 index: even half built batch, the odd
    * half arriving as a 3-file drop directory drained by the
    * checkpointed AvailableNow stream (one file per micro-batch, both
    * artifacts landing in batch-scoped delta dirs). Index contents
    * equal the one-shot full build, so serving shares its exact
    * oracle — the exactly-once claim under the DuckDB gate. */
  private def bm25StreamIndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("bm25-index-stream", dir) { d =>
      val idx = sub(d, "index")
      val docsTbl = tbl(s, dir, "documents")
      graft.similarity.Bm25IndexStore.writeBm25Index(
        docsTbl.filter(col("doc_id") % 2 === 0), idx, "text", "doc_id", nBuckets = 16)
      val delta = docsTbl.filter(col("doc_id") % 2 =!= 0)
      drainSlices(s, d, (0 until 3).map(i => delta.filter(col("doc_id") % 6 === (1 + 2 * i)))) {
        (stream, ckpt) => graft.similarity.Bm25IndexStore
          .streamAppendToBm25Index(stream, idx, ckpt, "text", "doc_id")
      }
      idx
    }

  /** STREAMING QUERY SERVING — the other direction of the streaming
    * story: not deltas into the index, but a QUERY LOG arriving as a
    * stream and served against the static persisted index. Each
    * micro-batch rides [[graft.similarity.Bm25IndexStore.serveBm25TopKBatch]]
    * (the batch-amortized plan) and lands its results in a
    * batch-id-scoped directory with overwrite semantics — the same
    * idempotent-sink construction as every ingest path, so a replayed
    * micro-batch rewrites the same directory and results are
    * exactly-once. The staged query log is the q_bm25_served_batch
    * batch split across TWO files → two micro-batches; per-query
    * results are batch-split-invariant (each query's rows are
    * bitwise the per-call serve's), so the streamed union shares the
    * one-shot batch oracle. */
  private def bm25StreamServeDirFor(s: SparkSession, dir: String): String =
    Scratch.once("bm25-serve-stream", dir) { d =>
      import s.implicits._
      val idx = bm25IndexDirFor(s, dir)
      serveStream(s, d, Seq(
        Seq(
          (1L, Seq("spark", "join", "window")),
          (2L, Seq("scan", "filter"))).toDF("query_id", "terms"),
        Seq(
          (3L, Seq("sort", "merge", "hash", "batch")),
          (4L, Seq("vector", "zzz_not_a_token", "vector", "stream")))
          .toDF("query_id", "terms"))) { batch =>
        graft.similarity.Bm25IndexStore.serveBm25TopKBatch(batch, idx, k = 10, roundTo = 6)
      }
    }

  /** The BM25 index with a takedown applied: doc_id%9==4 tombstoned out
    * of a COPY of the base artifacts (a takedown never re-tokenizes). */
  private def bm25DeletedIndexDirFor(s: SparkSession, dir: String): String =
    variantOf("bm25-index-del", dir, bm25IndexDirFor(s, dir)) { d =>
      graft.similarity.Bm25IndexStore.deleteFromBm25Index(
        tbl(s, dir, "documents").filter(col("doc_id") % 9 === 4).select("doc_id"), d)
    }

  /** The served IVF index with a takedown applied: same trained
    * artifacts as q_knn_ivf_served, vec_id%7==3 tombstoned out. */
  private def ivfDeletedIndexDirFor(s: SparkSession, dir: String): String =
    variantOf("ivf-index-del", dir, ivfIndexDirFor(s, dir)) { d =>
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore.deleteFromIndex(
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), d)
    }

  /** The takedown ANN index after COMPACTION: tombstoned codes
    * physically dropped from the cell-partitioned tree and the
    * tombstones cleared — serving must return pairs identical to the
    * logical-delete index, now because the rows don't exist rather
    * than because the anti-join hides them. */
  private def ivfCompactedIndexDirFor(s: SparkSession, dir: String): String =
    variantOf("ivf-index-compact", dir, ivfDeletedIndexDirFor(s, dir)) { d =>
      graft.similarity.IndexStore.compactIvfIndex(s, d)
    }

  /** One persisted IVFADC index per (JVM, dir): the composed layout's
    * persist-and-serve artifact (coarse + residual codebooks + codes
    * PARTITIONED BY CELL), built from the SAME memoized trained
    * artifacts q_knn_ivfpq uses — so serving is bit-identical and
    * shares its oracle. */
  private def ivfIndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("ivf-index", dir) { d =>
      graft.similarity.IndexStore.writeIvfPqIndex(
        tbl(s, dir, "embeddings"), d, "vec_id", "embedding",
        IvfCells, PqM, PqCent, IvfSeed, IvfSampleSize,
        ivfCentroidsFor(s, dir), ivfResidCodebooksFor(s, dir))
      d
    }

  /** One persisted OPQ×IVF index per (JVM, dir): rotation + rotated-
    * space IVF artifacts, from the SAME memoized training q_knn_opq_ivf
    * uses — served results bit-identical, same oracle. */
  private def opqIvfIndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("opqivf-index", dir) { d =>
      val (rot, cents, rcbs) = opqIvfFor(s, dir)
      graft.similarity.IndexStore.writeOpqIvfIndex(
        tbl(s, dir, "embeddings"), d, rot, cents, rcbs)
      d
    }

  /** The STREAMING-ingest variant: same even-half build, but the odd
    * half arrives as a 3-file drop directory drained by the
    * checkpointed exactly-once foreachBatch ingest (one delta
    * subdirectory per micro-batch, batch-id-scoped overwrite). The
    * final code set must equal the one-shot build's, so serving shares
    * q_knn_pq_rerank's exact oracle — the full production delta path,
    * stream edition. */
  private def pqStreamIndexDirFor(s: SparkSession, dir: String): String =
    Scratch.once("pq-index-stream", dir) { d =>
      val idx = sub(d, "index")
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore.writePqIndex(
        emb.filter(col("vec_id") % 2 === 0), idx, "vec_id", "embedding",
        PqM, PqCent, IvfSeed, IvfSampleSize, pqCodebooksFor(s, dir))
      val odd = emb.filter(col("vec_id") % 2 =!= 0)
      drainSlices(s, d, (0 until 3).map(i => odd.filter(col("vec_id") % 6 === (2 * i + 1)))) {
        (stream, ckpt) => graft.similarity.IndexStore.streamAppendToPqIndex(stream, idx, ckpt)
      }
      idx
    }
  // q_semdedup: the synthetic embeddings are hash-random (max pairwise
  // cosine ~0.5), so the semantic-duplicate threshold sits where the
  // corpus has real pair structure; production corpora use ~0.95+
  val SemDedupThreshold = 0.4
  // q_edit_pairs: Levenshtein cutoff (shared with the oracle SQL)
  val EditMaxDistance = 32
  // q_heavy_hitters: MG capacity; > the 31-word closed vocabulary, so
  // the sketch is provably exact on this corpus (see the query comment)
  val HeavyHittersK = 64
  /** The WordPiece decomposition oracle, shared by q_tokenize_wordpiece
    * (registry-built backend from `wordpiece_vocab.txt`) and
    * q_tokenize_hf_json (the gated `tokenizer.json` loader over the same
    * vocabulary): greedy longest-match decompositions hand-derived per
    * corpus word, word starts from a running-length window. */
  private val wordPieceOracleSql: String =
    """WITH w AS (
  SELECT doc_id,
    unnest(string_split(text, ' ')) AS word,
    unnest(range(1, len(string_split(text, ' ')) + 1)) AS idx
  FROM documents),
pos AS (
  SELECT doc_id, word, idx,
    coalesce(sum(length(word) + 1) OVER (PARTITION BY doc_id ORDER BY idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wstart
  FROM w),
pieces AS (
  SELECT doc_id, wstart,
    unnest(CASE word
      WHEN 'column' THEN [{'p': 'col', 's': 0, 'e': 3}, {'p': '##umn', 's': 3, 'e': 6}]
      WHEN 'customer' THEN [{'p': 'custom', 's': 0, 'e': 6}, {'p': '##er', 's': 6, 'e': 8}]
      WHEN 'spark' THEN [{'p': 'sp', 's': 0, 'e': 2}, {'p': '##ark', 's': 2, 'e': 5}]
      WHEN 'stream' THEN [{'p': 'str', 's': 0, 'e': 3}, {'p': '##eam', 's': 3, 'e': 6}]
      WHEN 'vector' THEN [{'p': 'vec', 's': 0, 'e': 3}, {'p': '##tor', 's': 3, 'e': 6}]
      WHEN 'window' THEN [{'p': 'win', 's': 0, 'e': 3}, {'p': '##dow', 's': 3, 'e': 6}]
      ELSE [{'p': word, 's': 0, 'e': CAST(length(word) AS INT)}]
    END) AS pc
  FROM pos)
SELECT doc_id, struct_extract(pc, 'p') AS token,
  CAST(wstart + struct_extract(pc, 's') AS BIGINT) AS start_cp,
  CAST(wstart + struct_extract(pc, 'e') AS BIGINT) AS end_cp
FROM pieces ORDER BY doc_id, start_cp, token"""

  /** Stage the bundled `hf_tokenizer_fixture.json` resource to a readable
    * temp file once per JVM — the gate takes a filesystem path. */
  private lazy val hfFixtureJsonPath: String = {
    val in = getClass.getResourceAsStream("/graft/hf_tokenizer_fixture.json")
    require(in != null, "hf_tokenizer_fixture.json missing from resources")
    val p = Scratch.dir("hf-tokenizer").resolve("tokenizer.json")
    try java.nio.file.Files.copy(in, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    p.toString
  }

  /** Open the HF tokenizer.json gate (staged fixture, default model id)
    * for exactly the span of `body`; resolve() caches the loaded backend
    * in the registry, which is the loader's documented serve-once
    * contract. */
  private def withHfJsonGate[T](body: => T): T = {
    val pathProp = graft.text.HfTokenizerGate.TokenizerJsonProp
    val idProp = graft.text.HfTokenizerGate.ModelIdProp
    val prevPath = sys.props.get(pathProp)
    val prevId = sys.props.get(idProp)
    sys.props(pathProp) = hfFixtureJsonPath
    sys.props(idProp) = graft.text.HfTokenizerGate.DefaultModelId
    try body
    finally {
      prevPath match { case Some(v) => sys.props(pathProp) = v; case None => sys.props -= pathProp }
      prevId match { case Some(v) => sys.props(idProp) = v; case None => sys.props -= idProp }
    }
  }

  /** Enable the `lindera:*`→bundled-dict fallback for exactly the span of
    * `body` (plan build resolves the backend eagerly, so the returned
    * Column keeps working after the gate is restored). The opt-in stays
    * an explicit per-query decision, never ambient state. */
  private def withLinderaGate[T](body: => T): T = {
    val prop = TokenizerModels.LinderaFallbackProp
    val prev = sys.props.get(prop)
    sys.props(prop) = "1"
    try body
    finally prev match {
      case Some(v) => sys.props(prop) = v
      case None => sys.props -= prop
    }
  }

  /** DuckDB replay of a CJK tokenize query: rebuild the synthetic text's
    * word layout (same single-space split as the WordPiece oracle), map
    * each word to its phrase (for the running code-point start) and to
    * its spec-pinned decomposition, and emit global offsets. DuckDB
    * `length()` counts code points, matching the engine's offset unit. */
  private def cjkTokenizeOracleSql(
      langFilter: Option[String],
      phrase: Map[String, String],
      pieces: Map[String, Seq[(String, Int, Int)]]): String = {
    val phraseCase = phrase.toSeq.sorted
      .map { case (w, p) => s"      WHEN '$w' THEN '$p'" }.mkString("\n")
    val pieceCase = pieces.toSeq.sortBy(_._1)
      .map { case (w, ps) =>
        val lits = ps.map { case (t, s0, e0) => s"{'p': '$t', 's': $s0, 'e': $e0}" }.mkString(", ")
        s"      WHEN '$w' THEN [$lits]"
      }.mkString("\n")
    val filterSql = langFilter.map(l => s" WHERE lang = '$l'").getOrElse("")
    s"""WITH w AS (
  SELECT doc_id,
    unnest(string_split(text, ' ')) AS word,
    unnest(range(1, len(string_split(text, ' ')) + 1)) AS idx
  FROM documents$filterSql),
m AS (
  SELECT doc_id, word, idx,
    CASE word
$phraseCase
      ELSE word
    END AS phrase
  FROM w),
pos AS (
  SELECT doc_id, word,
    coalesce(sum(length(phrase) + 1) OVER (PARTITION BY doc_id ORDER BY idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wstart
  FROM m),
pieces AS (
  SELECT doc_id, wstart,
    unnest(CASE word
$pieceCase
      ELSE [{'p': word, 's': 0, 'e': CAST(length(word) AS INT)}]
    END) AS pc
  FROM pos)
SELECT doc_id, struct_extract(pc, 'p') AS token,
  CAST(wstart + struct_extract(pc, 's') AS BIGINT) AS start_cp,
  CAST(wstart + struct_extract(pc, 'e') AS BIGINT) AS end_cp
FROM pieces ORDER BY doc_id, start_cp, token"""
  }

  private lazy val wordPieceRegistered: Unit = {
    val in = getClass.getResourceAsStream("/graft/wordpiece_vocab.txt")
    require(in != null, "wordpiece_vocab.txt fixture missing from resources")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try TokenizerModels.register(WordPieceModelId, WordPieceTokenizer.fromVocabText(src.getLines()))
    finally src.close()
  }

  val EmbedFixtureModelId = "local:fnv-digit-fixture"
  val EmbedFixtureDim = 4

  /** Offline embedder fixture: component `d` of a text's vector is digit
    * `d` of the unsigned FNV-1a 64 of the text in base 97 — exact small
    * integers, so the whole embed (unlike the float-pooled pseudo-model)
    * is independently re-derivable by DuckDB's HUGEINT arithmetic. It
    * exists to put the EMBEDDING CACHE and the registry's non-native
    * registration path under the exact oracle, the same job the WordPiece
    * vocab fixture does for the tokenizer registry. */
  private final case class FnvDigitModel(dim: Int) extends graft.embed.EmbeddingModel {
    override def countTokens(text: String): Int =
      if (text == null) 0 else graft.text.PlainTokenizer.tokenize(text).length
    override def encodeBatch(texts: Seq[String]): Seq[Array[Float]] =
      texts.map { t =>
        // Null hashes as '' (the oracle computes FNV of coalesce(text, ''))
        // and the walk is per CODE POINT — Fnv1aExpr.run's iteration, the
        // same sequence fnvSql's unicode(ch) folds — not UTF-16 units, so
        // fixture and oracle stay equal on any corpus, nulls and
        // supplementary-plane text included.
        val str = if (t == null) "" else t
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < str.length) {
          val cp = str.codePointAt(i)
          h ^= cp
          h *= 0x100000001b3L
          i += Character.charCount(cp)
        }
        Array.tabulate(dim) { d =>
          var u = h
          var k = 0
          while (k < d) { u = java.lang.Long.divideUnsigned(u, 97L); k += 1 }
          java.lang.Long.remainderUnsigned(u, 97L).toFloat
        }
      }
  }

  private[graft] lazy val embedFixtureRegistered: Unit =
    graft.embed.EmbedderRegistry.register(EmbedFixtureModelId, FnvDigitModel(EmbedFixtureDim))

  /** (img_id, width, height) of the synthetic PNG test cards the
    * real-image-decode query round-trips — shared by the query (which
    * ENCODES cards at these dims, then re-derives them by actually
    * decoding the PNG headers) and its oracle (which lists them as
    * literals: config shared, computation real). */
  val ImageFixtureDims: Seq[(Long, Int, Int)] =
    Seq((0L, 17, 9), (1L, 64, 48), (2L, 3, 5), (3L, 128, 1))
  val ImageResizeW = 10
  val ImageResizeH = 7

  /** The deterministic stage list of the topic pipeline's
    * `stage_timings_ms` instrumentation (reference `mod.rs:223-390`
    * stage table) for the exact (≤ maxDriverChunks) path topicRun takes
    * — shared by q_topic_stage_timings and its oracle literals. */
  val TopicStageNames: Seq[String] = Seq(
    "embedder_load", "chunking", "embedding", "reduce_clustering",
    "hdbscan", "reduce_coordinates", "topic_coordinates",
    "ctfidf_count_terms", "ctfidf_scores", "rollup", "assemble_topics",
    "total")

  /** `(clip_id, sampleRateHz, channels, pcmFrames)` for the real-WAV
    * decode round-trips — shared by q_media_audio_meta (which ENCODES
    * square-wave clips at these shapes, then re-derives everything by
    * actually parsing the WAV through javax.sound.sampled) and its
    * oracle (literals: config shared, computation real). Frame counts
    * chosen so the 2-way segmentation splits evenly and duration math is
    * integral at every stage. */
  val AudioFixtureClips: Seq[(Long, Int, Int, Int)] =
    Seq((0L, 8000, 1, 4000), (1L, 16000, 2, 4800), (2L, 44100, 1, 882))
  val AudioSegments = 2

  /** `(vid_id, width, height, nFrames, perFrameDelayCs)` for the real
    * multi-frame-GIF video round-trips — shared by q_media_video_meta
    * (which ENCODES animated clips at these shapes, then re-derives
    * frame count / duration by actually reading the GIF sequence +
    * GraphicControlExtension delays) and its oracle literals. One clip
    * is shorter than the sample budget to pin the take-all path. */
  val VideoFixtureClips: Seq[(Long, Int, Int, Int, Int)] =
    Seq((0L, 24, 16, 6, 4), (1L, 8, 8, 2, 10), (2L, 33, 7, 5, 2))
  val VideoSampleFrames = 3

  /** Scratch cache roots for the typed-cache queries (one per JVM, the
    * tokCacheDir pattern: the bench warmup populates, timed passes hit). */
  private lazy val typedTokCacheDir: String = Scratch.dir("typedtok").toString
  private lazy val embedCacheDir: String = Scratch.dir("embcache").toString

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Corpus-comparison keyness (log-likelihood G² et al.) of English vs
    * non-English documents — tokenize → explode → aggregate → full-outer
    * join → column algebra, the reference's headline capability
    * re-expressed as one distributed plan. */
  def entry(spark: SparkSession): DataFrame =
    keyness(spark, "/root/testdata/sf0.001")

  private def keyness(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("lang"), col("text"))
    // One corpus scan, one shuffle: conditional aggregation replaces two
    // filtered passes + full-outer join (totals inlined as literals).
    val counts = TokenFrequencies
      .conditionalTokenFrequencies(docs, "text", col("lang") === "en")
    val stats = TokenFrequencies.tokenFrequencyStatsFromCounts(counts)
    val doubles = Seq(
      "expected_0", "expected_1", "log_likelihood_llv", "bayes_factor_bic",
      "effect_size_ell", "percent_corpus_0", "percent_corpus_1",
      "percent_diff", "relative_risk", "log_ratio", "odds_ratio")
    doubles
      .foldLeft(stats)((df, c) => df.withColumn(c, round(col(c), 6)))
      .orderBy("token")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 #1 clean_text
    "q_clean_text" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.cleanText(col("text")).as("cleaned"))
        .orderBy("doc_id")),

    // SQL entry point: the engine's registered session functions driven
    // through spark.sql — the Column API and the SQL name resolve to ONE
    // plan (Bridge-wrapped builders), so this query pins that a SQL-only
    // user gets the exact Column-API semantics
    "q_sql_surface" -> ((s, dir) => {
      graft.sql.GraftFunctions.register(s)
      // size(tokenize_plain(text)) below rewrites to the count-only
      // native expression (TokenCountRewrite) — same counts, no
      // token-struct array materialized per row
      graft.sql.GraftFunctions.installOptimizerRule(s)
      tbl(s, dir, "documents").createOrReplaceTempView("graft_documents")
      s.sql("""SELECT doc_id, lang,
  clean_text(text) AS cleaned,
  word_count(text) AS word_cnt,
  CAST(size(tokenize_plain(text)) AS BIGINT) AS n_toks,
  lang_id(text) AS pred_lang
FROM graft_documents ORDER BY doc_id""")
    }),

    // the injected OPTIMIZER RULE under the oracle: the SQL user's
    // obvious token-string projection (transform(tokenize_plain(text),
    // x -> x.token)) is CodegenFallback as written; TokenStringsRewrite
    // (installed here via experimental.extraOptimizations; the
    // spark.sql.extensions path registers the same rule at build time)
    // rewrites it to the native codegen'd TokenStringsExpr — same
    // values, intact codegen span. TokenStringsRewriteSpec pins the
    // plan shape; this row pins the values against the plain-tokenize
    // oracle
    "q_sql_token_strings" -> ((s, dir) => {
      graft.sql.GraftFunctions.register(s)
      graft.sql.GraftFunctions.installOptimizerRule(s)
      tbl(s, dir, "documents").createOrReplaceTempView("graft_documents")
      s.sql("""SELECT doc_id, tok AS token FROM graft_documents
LATERAL VIEW explode(transform(tokenize_plain(text), x -> x.token)) t AS tok
ORDER BY doc_id, token""")
    }),

    // sink/source fidelity under the oracle: the corpus leaves through
    // the JSON sink and comes back through the schema'd JSON source; the
    // oracle reads the ORIGINAL table, so any engine-side interchange
    // loss (escaping, nulls, type drift) breaks the hash. A fresh temp
    // dir per invocation — bench measures the real write+read cost.
    "q_sink_roundtrip" -> ((s, dir) => {
      val out = Scratch.dir("sink").toString + "/docs_json"
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      docs.write.mode("overwrite").json(out)
      s.read.schema(docs.schema).json(out)
        .select(col("doc_id"), col("lang"),
          TextFunctions.charCount(col("text")).as("char_cnt"))
        .orderBy("doc_id")
    }),

    // same fidelity contract through the CSV interchange path —
    // header + quoted strings; text is single-line by corpus shape, so
    // quoting/escaping of the delimiter class is what's under test
    "q_sink_roundtrip_csv" -> ((s, dir) => {
      val out = Scratch.dir("sink").toString + "/docs_csv"
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      docs.write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(docs.schema).option("header", "true").csv(out)
        .select(col("doc_id"), col("lang"),
          TextFunctions.charCount(col("text")).as("char_cnt"))
        .orderBy("doc_id")
    }),

    // and through ORC — the second columnar container a lakehouse
    // deployment actually swaps in; same oracle against the original
    "q_sink_roundtrip_orc" -> ((s, dir) => {
      val out = Scratch.dir("sink").toString + "/docs_orc"
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      docs.write.mode("overwrite").orc(out)
      s.read.schema(docs.schema).orc(out)
        .select(col("doc_id"), col("lang"),
          TextFunctions.charCount(col("text")).as("char_cnt"))
        .orderBy("doc_id")
    }),

    // partition-pruned layout: the corpus written hive-partitioned by
    // lang (once per JVM), then queried with a partition filter — the
    // scan must touch ONE lang directory, not the corpus
    // (PlanShapeSpec pins PartitionFilters + the pruned partition
    // count; the oracle pins the values against the original table)
    "q_partitioned_scan" -> ((s, dir) => {
      val root = partitionedDocsDirFor(s, dir)
      s.read.parquet(root)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"),
          TextFunctions.charCount(col("text")).as("char_cnt"))
        .orderBy("doc_id")
    }),

    // co-located join: orders and lineitem written BUCKETED by the join
    // key into external tables (once per JVM) — the join and the
    // key-aligned aggregation then run with ZERO hashpartitioning
    // exchanges (bucketed scans on both sides), the layout every 100 TB
    // fact-fact join should run on. PlanShapeSpec pins the
    // exchange-free shape; DuckDB pins the values from the originals
    "q_bucketed_join" -> ((s, dir) => {
      val (ordersTbl, lineitemTbl) = bucketedTablesFor(s, dir)
      val one = lit(1).cast("decimal(18,2)")
      // merge hint: at test SFs AQE would happily broadcast the orders
      // side, which hides exactly the property this query exists to
      // pin — at 100 TB neither fact side broadcasts, and the bucketed
      // SMJ must run with zero hashpartitioning exchanges (and zero
      // sorts: the buckets are sorted on the key)
      s.table(ordersTbl).hint("merge")
        .join(s.table(lineitemTbl), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (one - col("l_discount").cast("decimal(18,2)"))).cast("double"), 6).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderkey")
    }),

    // standard relational surface (SURVEY §2.9): TPC-H-Q1-flavor pricing
    // summary over lineitem — filter pushdown to the scan, exact DECIMAL
    // aggregation (double sums are order-dependent across engines), final
    // doubles only after the exact sums
    "q_lineitem_pricing" -> ((s, dir) => {
      val one = lit(1).cast("decimal(18,2)")
      val qty = col("l_quantity").cast("decimal(18,2)")
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val tax = col("l_tax").cast("decimal(18,2)")
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= expr("TIMESTAMP_NTZ '2024-06-01 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(qty).cast("double"), 6).as("sum_qty"),
          round(sum(price).cast("double"), 6).as("sum_base_price"),
          round(sum(price * (one - disc)).cast("double"), 6).as("sum_disc_price"),
          round(sum(price * (one - disc) * (one + tax)).cast("double"), 6).as("sum_charge"),
          round(sum(qty).cast("double") / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H-Q3-flavor join: the filtered customer dim is explicitly
    // broadcast (no shuffle for the small side), orders⋈lineitem shuffles
    // once on the order key; revenue in exact DECIMAL, ranked on the
    // rounded double with an id tie-break so the top-20 is deterministic
    "q_top_orders" -> ((s, dir) => {
      val one = lit(1).cast("decimal(18,2)")
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val cust = broadcast(
        tbl(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")))
      tbl(s, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(tbl(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(
          round(sum(price * (one - disc)).cast("double"), 6).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(20)
    }),

    // relational surface over the events table: tumbling 1-hour windows via
    // Spark's native window() — the same operator Structured Streaming uses,
    // here batch-checked against the oracle; DECIMAL sums keep the compare
    // exact (double summation is order-dependent across engines)
    "q_event_windows" -> ((s, dir) => {
      eventsWithTs(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"),
          col("n_events"),
          col("sum_value").cast("string").as("sum_value"),
          col("n_users"))
        .orderBy("window_start", "event_type")
    }),

    // Structured Streaming under the exact oracle: the same tumbling-window
    // aggregation as q_event_windows (minus the distinct-user count, which
    // streaming aggregation does not support) executed as a REAL
    // readStream → writeStream run — file source, watermark,
    // Trigger.AvailableNow drains it, Complete mode materializes the final
    // window state in the memory sink. The returned frame reads that sink,
    // so the driver compares a genuine streaming execution against DuckDB's
    // batch SQL: the stream/batch unification contract, oracle-checked.
    "q_stream_event_windows" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // legacy-NANOS no-op guard; see normalizedTs
      val src = s.readStream.schema(tbl(s, dir, "events").schema)
        .parquet(stagedDir(s"$dir/events.parquet"))
      val stream = src.withColumn("ets", normalizedTs(src, "ts"))
      val agg = graft.streaming.TextStream
        .windowedEventStats(stream, "ets", "event_type", "value")
      s.catalog.dropTempView("graft_stream_event_windows")
      val q = withStreamShufflePartitions(s, StreamStateParts)(agg.writeStream
        .format("memory")
        .queryName("graft_stream_event_windows")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      try q.awaitTermination()
      finally q.stop()
      s.table("graft_stream_event_windows")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"),
          col("n_events"),
          col("sum_value").cast("string").as("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // THE MULTI-BATCH WATERMARK QUERY: same windowed aggregation as
    // q_stream_event_windows, but the input arrives as three ordered
    // micro-batches (stagedMultiDir + maxFilesPerTrigger=1) and the sink
    // runs APPEND mode, so the watermark machinery actually fires:
    // batch-1/batch-2 rows landing in windows the prior batch's
    // watermark already closed are DROPPED, and only windows the final
    // watermark passed are emitted. The DuckDB oracle re-derives every
    // per-batch watermark from the same event_id%10 split and models
    // both effects exactly — late-drop semantics checked, not avoided.
    "q_stream_late_windows" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // legacy-NANOS no-op guard; see normalizedTs
      val src = s.readStream.schema(tbl(s, dir, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stagedMultiDir(s, s"$dir/events.parquet"))
      val stream = src.withColumn("ets", normalizedTs(src, "ts"))
      val agg = graft.streaming.TextStream
        .windowedEventStats(stream, "ets", "event_type", "value")
      s.catalog.dropTempView("graft_stream_late_windows")
      val q = withStreamShufflePartitions(s, StreamStateParts)(agg.writeStream
        .format("memory")
        .queryName("graft_stream_late_windows")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      try q.awaitTermination()
      finally q.stop()
      s.table("graft_stream_late_windows")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"),
          col("n_events"),
          col("sum_value").cast("string").as("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // semi-structured props: JSON path extraction + per-type aggregation
    "q_event_props" -> ((s, dir) => {
      eventsWithTs(s, dir) // ts unused, but the conf/dtype posture stays uniform
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // event-time sessionization via Spark's native session_window — the
    // same operator the streaming surface uses (TextStream.sessionCounts),
    // batch-checked here against a lag/gap-island oracle; one shuffle
    // keyed on user_id, merge logic inside the session-window aggregation
    "q_sessions" -> ((s, dir) => {
      eventsWithTs(s, dir)
        .groupBy(session_window(col("ts"), "6 hours").as("session"), col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("sum_value"))
        .select(
          col("user_id"),
          date_format(col("session.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"),
          col("sum_value").cast("string").as("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // Streaming sessionization under the exact oracle: the q_sessions
    // aggregation executed as a real stream (same session_window operator —
    // the batch/streaming unification is literal here). Complete mode
    // materializes the final merged session state; the gap-island SQL
    // oracle is shared with the batch query verbatim.
    "q_stream_sessions" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // legacy-NANOS no-op guard; see normalizedTs
      val src = s.readStream.schema(tbl(s, dir, "events").schema)
        .parquet(stagedDir(s"$dir/events.parquet"))
      val stream = src.withColumn("ets", normalizedTs(src, "ts"))
        .withWatermark("ets", "12 hours")
        .groupBy(session_window(col("ets"), "6 hours").as("session"), col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      s.catalog.dropTempView("graft_stream_sessions")
      val q = withStreamShufflePartitions(s, StreamStateParts)(stream.writeStream
        .format("memory")
        .queryName("graft_stream_sessions")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      try q.awaitTermination()
      finally q.stop()
      s.table("graft_stream_sessions")
        .select(
          col("user_id"),
          date_format(col("session.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"),
          col("sum_value").cast("string").as("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // Arbitrary streaming state under the exact oracle: the
    // mapGroupsWithState running-totals operator streamed over the
    // documents table in Update mode. Each micro-batch emits the updated
    // per-key totals; totals are monotone, so max-per-key in the sink is
    // the final state regardless of how the source splits into batches.
    "q_stream_running_totals" -> ((s, dir) => {
      val schema = tbl(s, dir, "documents").schema
      val stream = s.readStream.schema(schema)
        .parquet(stagedDir(s"$dir/documents.parquet"))
      val totals = graft.streaming.TextStream
        .runningTotals(stream, "lang", "text")
        .toDF("key", "n_docs", "n_toks")
      s.catalog.dropTempView("graft_stream_totals")
      val q = withStreamShufflePartitions(s, StreamStateParts)(totals.writeStream
        .format("memory")
        .queryName("graft_stream_totals")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      try q.awaitTermination()
      finally q.stop()
      s.table("graft_stream_totals")
        .groupBy(col("key"))
        .agg(max("n_docs").as("n_docs"), max("n_toks").as("n_toks"))
        .orderBy("key")
    }),

    // the MODERN arbitrary-state API (Spark 4 transformWithState +
    // named ValueState on the RocksDB state store) under the exact
    // oracle: per-user running event stats in Update mode. Totals are
    // monotone in n_events, so max_by in the sink reads the final
    // state however the source splits into batches. The provider conf
    // is scoped to the start() call (read at stream start), restored
    // after — the HDFS-backed default stays in place for every other
    // stateful stream
    "q_stream_user_stats" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = tbl(s, dir, "events").schema
      val stream = s.readStream.schema(schema).parquet(stagedDir(s"$dir/events.parquet"))
      val stats = graft.streaming.TextStream.userEventStats(stream)
        .toDF("user_id", "n_events", "sum_value")
      s.catalog.dropTempView("graft_stream_user_stats")
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q =
        try withStreamShufflePartitions(s, StreamStateParts)(stats.writeStream
          .format("memory")
          .queryName("graft_stream_user_stats")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())
        finally prevProvider match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      try q.awaitTermination()
      finally q.stop()
      s.table("graft_stream_user_stats")
        .groupBy(col("user_id"))
        .agg(
          max("n_events").as("n_events"),
          expr("max_by(sum_value, n_events)").as("sv"))
        .select(col("user_id"), col("n_events"), round(col("sv"), 6).as("sum_value"))
        .orderBy("user_id")
    }),

    // the sketch tier streamed: per-lang Misra–Gries summaries as
    // transformWithState state — O(k) per key on the state store, no
    // per-token-type streaming aggregation state. Run in the provably
    // exact regime (k > |vocab|): emitted counts are then monotone per
    // (lang, token), so max-per-pair over the Update-mode emissions is
    // the final summary and DuckDB's per-lang GROUP BY is the exact
    // oracle (the q_heavy_hitters argument, composed with the
    // q_stream_user_stats sink pattern)
    "q_stream_heavy_hitters" -> ((s, dir) => {
      val schema = tbl(s, dir, "documents").schema
      val stream = s.readStream.schema(schema).parquet(stagedDir(s"$dir/documents.parquet"))
      val hh = graft.streaming.TextStream
        .streamingHeavyHitters(stream, "lang", "text", HeavyHittersK)
        .toDF("lang", "token", "est")
      s.catalog.dropTempView("graft_stream_heavy_hitters")
      // transformWithState requires the RocksDB provider (multiple
      // column families); conf scoped to the stream start and restored
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q =
        try withStreamShufflePartitions(s, StreamStateParts)(hh.writeStream
          .format("memory")
          .queryName("graft_stream_heavy_hitters")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())
        finally prevProvider match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      try q.awaitTermination()
      finally q.stop()
      s.table("graft_stream_heavy_hitters")
        .groupBy(col("lang"), col("token"))
        .agg(max(col("est")).as("est_freq"))
        .orderBy("lang", "token")
    }),

    // streaming tier: the curation gate run as a STREAM — stateless
    // scan-speed filtering (quality + repetition + lang-id) over a file
    // source, answering the SAME oracle as the batch formulation (a
    // streamed corpus gates exactly like a batch one)
    "q_stream_curation" -> ((s, dir) => {
      val schema = tbl(s, dir, "documents").schema
      val stream = s.readStream.schema(schema)
        .parquet(stagedDir(s"$dir/documents.parquet"))
      val gated = graft.streaming.TextStream
        .curationGate(stream, "text", CurationDupFracMax)
        .select(col("doc_id"), col("lang"), col("pred_lang"))
      s.catalog.dropTempView("graft_stream_curation")
      val q = gated.writeStream
        .format("memory")
        .queryName("graft_stream_curation")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      s.table("graft_stream_curation").orderBy("doc_id")
    }),

    // streaming tier: EXACT DEDUP as a stream — the ingest-side gate a
    // training pipeline runs before anything stateful downstream. The
    // source is doubled by a stateless explode (the sf corpus has no
    // exact dupes), so dropDuplicatesWithinWatermark provably halves it;
    // output carries only dup-invariant columns (hash + char count), so
    // the surviving-arrival race is immaterial and the batch DISTINCT
    // oracle is exact
    "q_stream_dedup" -> ((s, dir) => {
      val schema = tbl(s, dir, "documents").schema
      val doubled = s.readStream.schema(schema)
        .parquet(stagedDir(s"$dir/documents.parquet"))
        .withColumn("copy", explode(array(lit(1), lit(2))))
        .withColumn("ets", to_timestamp(lit("2026-01-01 00:00:00")))
      val survivors = graft.streaming.TextStream
        .streamingExactDedup(doubled, "text", "ets")
        .select(
          col("content_hash"),
          graft.text.TextFunctions.charCount(col("text")).as("char_cnt"))
      s.catalog.dropTempView("graft_stream_dedup")
      val q = withStreamShufflePartitions(s, StreamStateParts)(survivors.writeStream
        .format("memory")
        .queryName("graft_stream_dedup")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      try q.awaitTermination()
      finally q.stop()
      s.table("graft_stream_dedup").orderBy("content_hash")
    }),

    // streaming tier: stream-static ENRICHMENT — the ingest pattern every
    // production pipeline runs (facts stream in, dimensions sit in a
    // table): lineitem streamed from files, broadcast-joined to the part
    // dimension per micro-batch (stateless — no watermark, no state
    // store), aggregated in Complete mode. The batch join SQL is the
    // exact oracle: stream/batch unification for the join operator.
    "q_stream_enrich" -> ((s, dir) => {
      val schema = tbl(s, dir, "lineitem").schema
      val stream = s.readStream.schema(schema)
        .parquet(stagedDir(s"$dir/lineitem.parquet"))
      val dim = broadcast(tbl(s, dir, "part").select(col("p_partkey"), col("p_brand")))
      val agg = stream
        .join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      s.catalog.dropTempView("graft_stream_enrich")
      val q = withStreamShufflePartitions(s, StreamStateParts)(agg.writeStream
        .format("memory")
        .queryName("graft_stream_enrich")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      try q.awaitTermination()
      finally q.stop()
      s.table("graft_stream_enrich")
        .select(col("p_brand"), col("n_items"), col("sum_qty").cast("string").as("sum_qty"))
        .orderBy("p_brand")
    }),

    // streaming tier: STREAM-STREAM inner join — clicks and purchases
    // arrive as two independent streams; each click matches the same
    // user's purchases within the following hour. Watermarks on both
    // sides bound the join state (the production contract: state is
    // dropped once event time passes), the time-range predicate makes
    // the state finite per key. AvailableNow drains both sides; inner
    // join in Append mode emits exactly the matched pairs, so the plain
    // batch interval join is the exact oracle.
    "q_stream_stream_join" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // legacy-NANOS no-op guard; see normalizedTs
      s.conf.set("spark.sql.session.timeZone", "UTC") // NTZ cast instant-preservation; see eventsWithTs
      val schema = tbl(s, dir, "events").schema
      // event_type filter FIRST (pushes to the file scan — each side
      // reads 1/5 of the rows), ts projection after
      def side(kind: String): DataFrame = {
        val st = s.readStream.schema(schema).parquet(stagedDir(s"$dir/events.parquet"))
          .filter(col("event_type") === kind)
        st.withColumn("ts", normalizedTs(st, "ts"))
      }
      val clicks = side("click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = side("purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val joined = clicks.join(
        purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      s.catalog.dropTempView("graft_stream_stream_join")
      // a stream-stream join owns FOUR state stores per partition —
      // the strongest case for the fewer-fatter-partitions state tuning
      // (6.8 s → 2.1 s at sf0.1)
      val q = withStreamShufflePartitions(s, StreamStateParts)(joined.writeStream
        .format("memory")
        .queryName("graft_stream_stream_join")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      try q.awaitTermination()
      finally q.stop()
      s.table("graft_stream_stream_join")
        .select(col("click_id"), col("purchase_id"), col("user_id"))
        .orderBy("click_id", "purchase_id")
    }),

    // time-series resampling (beyond-reference): per-user daily grid
    // with forward fill — the pandas resample().ffill() normalization
    // as ONE operator. Events collapse to one row per (user, day)
    // BEFORE any window runs; the growing fill window walks grid-sized
    // partitions keyed by user. Deterministic last-observation pick
    // (ts, then event_id); DuckDB replays via generate_series + an
    // IGNORE NULLS window
    "q_resample_daily" -> ((s, dir) => {
      graft.operators.Resample
        .resampleFill(eventsWithTs(s, dir), "user_id", "ts", "value", "event_id",
          step = "1 day", truncUnit = "DAY")
        .select(
          col("user_id"),
          date_format(col("slot"), "yyyy-MM-dd").as("day"),
          round(col("value"), 6).as("value"),
          col("observed"))
        .orderBy("user_id", "day")
    }),

    // rolling window over the regularized series: 3-day moving average
    // of the forward-filled daily values — the composition
    // resample().ffill().rolling(3).mean() that motivates having the
    // grid operator at all; the frame is rows-bounded per user, never
    // global
    "q_moving_avg" -> ((s, dir) => {
      val daily = graft.operators.Resample
        .resampleFill(eventsWithTs(s, dir), "user_id", "ts", "value", "event_id",
          step = "1 day", truncUnit = "DAY")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("slot")).rowsBetween(-2, 0)
      daily
        .select(
          col("user_id"),
          date_format(col("slot"), "yyyy-MM-dd").as("day"),
          round(avg(col("value")).over(w), 6).as("ma3"))
        .orderBy("user_id", "day")
    }),

    // as-of join (beyond-reference time-series operator): each click
    // joined to the user's latest purchase at or before it — single
    // shuffle union+window plan, never a range join; checked against
    // DuckDB's native ASOF LEFT JOIN
    "q_asof_purchase" -> ((s, dir) => {
      val ev = eventsWithTs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(
          col("user_id"),
          col("ts").as("p_ts"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin
        .asofJoin(clicks, purchases, Seq("user_id"), "ts", "p_ts")
        .select(col("event_id"), col("user_id"), col("purchase_id"), col("purchase_value"))
        .orderBy("event_id")
    }),

    // range join (beyond-reference): clicks inside ±30-minute incident
    // windows around each error, per user — granule-bucketed join on
    // (user, granule) + exact BETWEEN, never the per-key cross product;
    // checked against a plain BETWEEN join in DuckDB
    "q_range_incidents" -> ((s, dir) => {
      val ev = eventsWithTs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val incidents = ev.filter(col("event_type") === "error")
        .select(
          col("user_id"),
          (col("ts") - expr("INTERVAL 30 MINUTES")).as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"),
          col("event_id").as("incident_id"))
      graft.operators.RangeJoin
        .pointInInterval(clicks, incidents, Seq("user_id"), "ts", "w_start", "w_end",
          granuleSeconds = 1800L)
        .select(col("event_id"), col("user_id"), col("incident_id"))
        .orderBy("event_id", "incident_id")
    }),

    // exact distribution statistics: per-corpus word-count quantiles
    // (linear interpolation, the percentile/quantile_cont contract both
    // engines share)
    "q_word_quantiles" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("lang"), TextFunctions.wordCount(col("text")).as("word_cnt"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(expr("percentile(word_cnt, 0.5)"), 6).as("p50_words"),
          round(expr("percentile(word_cnt, 0.9)"), 6).as("p90_words"))
        .orderBy("lang")),

    // curation: corpus-relative length gate — exact percentile thresholds
    // computed once (2 doubles to the driver) and inlined as literals into
    // a scan-side filter; the global-threshold-as-literal pattern as a
    // user-facing operator
    "q_length_gate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.wordCount(col("text")).as("wc"))
      val q = docs
        .agg(expr("percentile(wc, array(0.10, 0.99))").as("q"))
        .head().getSeq[Double](0)
      docs
        .filter(col("wc") >= lit(q(0)) && col("wc") <= lit(q(1)))
        .orderBy("doc_id")
    }),

    // TPC-H-Q5-flavor: revenue by customer region/nation — the dim chain
    // (customer⋈nation⋈region) is broadcast, so the fact side shuffles
    // exactly once, on the order key
    "q_region_revenue" -> ((s, dir) => {
      val one = lit(1).cast("decimal(18,2)")
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val geo = broadcast(
        tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
          .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey"), col("n_name"), col("r_name")))
      tbl(s, dir, "orders")
        .join(geo, col("o_custkey") === col("c_custkey"))
        .join(tbl(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(price * (one - disc)).cast("double"), 6).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // window functions over a fact table: top-3 orders per customer —
    // partitioned rank, no global sort except the oracle-determinism tail
    "q_top_orders_per_cust" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rank")
    }),

    // multi-level aggregation: ROLLUP over order status × priority —
    // Catalyst expands grouping sets in one pass; rolled-up levels are
    // disambiguated with a sentinel so the oracle compare is total-order
    // stable across engines
    "q_orders_rollup" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 6).as("total_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"),
          col("total_price"))
        .orderBy("status", "priority")),

    // LLM-pipeline composition: the full cleaning pass as ONE lazy plan —
    // quality gate → exact-dedup first-copy → language routing; the shape
    // a 100 TB ingest job actually runs (scan once, shuffle once on the
    // digest, everything else map-side)
    "q_clean_pipeline" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val quality = TextAnalysis.qualityMetrics(col("text")).toMap
      val kept = docs.filter(quality("keep"))
      graft.dedup.Dedup
        .exactDedup(kept, "text", "doc_id")
        .filter(col("dup_rank") === 1)
        .select(
          col("doc_id"),
          col("lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"),
          col("n_copies"))
        .orderBy("doc_id")
    }),

    // §2.1 #2-4 word/char/sentence counts
    "q_text_counts" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          TextFunctions.wordCount(col("text")).as("word_cnt"),
          TextFunctions.charCount(col("text")).as("char_cnt"),
          TextFunctions.sentenceCount(col("text")).as("sentence_cnt"))
        .orderBy("doc_id")),

    // counts aggregated per corpus — exercises agg over derived columns
    "q_counts_by_lang" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextFunctions.wordCount(col("text"))).as("total_words"),
          sum(TextFunctions.charCount(col("text"))).as("total_chars"),
          sum(TextFunctions.sentenceCount(col("text"))).as("total_sentences"))
        .withColumn(
          "avg_chars",
          round(col("total_chars") / col("n_docs"), 6))
        .orderBy("lang")),

    // §2.2 #5 tokenize (token stream; offsets are spec-tested invariants)
    "q_tokenize_tokens" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), explode(Tokenize.tokenize(col("text"))).as("t"))
        .select(col("doc_id"), col("t.token").as("token"))
        .orderBy("doc_id", "token")),

    // §2.2 #5 tokenize, WordPiece backend via the pluggable registry —
    // pins the ##-prefix + unprefixed-substring offset contract
    // (tests/test_tokenize_with_offsets.py:64-78) under the DuckDB oracle
    "q_tokenize_wordpiece" -> ((s, dir) => {
      wordPieceRegistered
      tbl(s, dir, "documents")
        .select(col("doc_id"), explode(Tokenize.tokenize(col("text"), WordPieceModelId)).as("t"))
        .select(
          col("doc_id"),
          col("t.token").as("token"),
          col("t.start").as("start_cp"),
          col("t.end").as("end_cp"))
        .orderBy("doc_id", "start_cp", "token")
    }),

    // §2.2 #5 tokenize, the gated HF `tokenizer.json` loader under the
    // oracle: the bundled fixture json carries the SAME vocabulary as
    // wordpiece_vocab.txt, so the loader path — gate props → json parse →
    // WordPiece backend cached under the huggingface: id — must
    // reproduce q_tokenize_wordpiece's hand-derived oracle exactly
    // (##-prefix + unprefixed-substring offsets,
    // tests/test_tokenize_with_offsets.py:64-78)
    "q_tokenize_hf_json" -> ((s, dir) => {
      val tok = withHfJsonGate(
        Tokenize.tokenize(col("text"), graft.text.HfTokenizerGate.DefaultModelId))
      tbl(s, dir, "documents")
        .select(col("doc_id"), explode(tok).as("t"))
        .select(
          col("doc_id"),
          col("t.token").as("token"),
          col("t.start").as("start_cp"),
          col("t.end").as("end_cp"))
        .orderBy("doc_id", "start_cp", "token")
    }),

    // §2.2 #5 tokenize, the gated CJK path under the oracle at last: the
    // `lindera:ja-ipadic` id served by the bundled ja dictionary
    // segmenter (fallback gate enabled for exactly this plan build; the
    // UDF closure captures the resolved backend, so the restored gate
    // still fail-fasts everyone else). The corpus has no CJK text, so
    // both engines construct the SAME synthetic Japanese from the closed
    // 31-word vocabulary (CjkQueryFixture); only Spark runs the real
    // DAG+DP segmenter — DuckDB replays the spec-pinned decompositions
    // with running code-point offsets, an exact-match strengthening of
    // the reference's reslice/reconstruct invariants
    // (tests/test_lindera_integration.py:83-111)
    "q_tokenize_cjk" -> ((s, dir) => {
      val tok = withLinderaGate(Tokenize.tokenize(col("ja_text"), "lindera:ja-ipadic"))
      val phrase = typedLit(graft.text.CjkQueryFixture.jaPhrase)
      tbl(s, dir, "documents")
        .withColumn("ja_text",
          concat_ws(" ", transform(split(col("text"), " "),
            w => coalesce(element_at(phrase, w), w))))
        .select(col("doc_id"), explode(tok).as("t"))
        .select(
          col("doc_id"),
          col("t.token").as("token"),
          col("t.start").as("start_cp"),
          col("t.end").as("end_cp"))
        .orderBy("doc_id", "start_cp", "token")
    }),

    // same pattern for the zh id (`lindera:jieba` → bundled zh dict, the
    // jieba max-probability DP itself) over the zh-labeled slice —
    // pinning the second dictionary family plus the mixed-script run
    // contract (API编程 keeps `api` intact, segments only the Han span)
    "q_tokenize_cjk_zh" -> ((s, dir) => {
      val tok = withLinderaGate(Tokenize.tokenize(col("zh_text"), "lindera:jieba"))
      val phrase = typedLit(graft.text.CjkQueryFixture.zhPhrase)
      tbl(s, dir, "documents")
        .filter(col("lang") === "zh")
        .withColumn("zh_text",
          concat_ws(" ", transform(split(col("text"), " "),
            w => coalesce(element_at(phrase, w), w))))
        .select(col("doc_id"), explode(tok).as("t"))
        .select(
          col("doc_id"),
          col("t.token").as("token"),
          col("t.start").as("start_cp"),
          col("t.end").as("end_cp"))
        .orderBy("doc_id", "start_cp", "token")
    }),

    // ...and the third dictionary family: `lindera:ko-dic` → bundled ko
    // word list. The ko phrase design pins the josa (particle) split-off
    // (회사의사람 → 회사|의|사람), OOV Hangul-syllable fallback (김치 →
    // 김|치) and the mixed-script run (API분석 → api|분석) — the
    // reference's ko morpheme invariants re-expressed as exact-match
    // rows. Runs over the de-labeled slice (any closed-vocab slice
    // works; de keeps the row cheap and distinct from ja=all / zh=zh)
    "q_tokenize_cjk_ko" -> ((s, dir) => {
      val tok = withLinderaGate(Tokenize.tokenize(col("ko_text"), "lindera:ko-dic"))
      val phrase = typedLit(graft.text.CjkQueryFixture.koPhrase)
      tbl(s, dir, "documents")
        .filter(col("lang") === "de")
        .withColumn("ko_text",
          concat_ws(" ", transform(split(col("text"), " "),
            w => coalesce(element_at(phrase, w), w))))
        .select(col("doc_id"), explode(tok).as("t"))
        .select(
          col("doc_id"),
          col("t.token").as("token"),
          col("t.start").as("start_cp"),
          col("t.end").as("end_cp"))
        .orderBy("doc_id", "start_cp", "token")
    }),

    // sketch tier: Misra–Gries heavy hitters as a MERGEABLE typed
    // Aggregator — one aggregation with O(k) state per map task (no
    // token-type shuffle), the pre-pass a 100 TB top-tokens job runs.
    // k=64 exceeds the 31-word corpus vocabulary, so no decrement ever
    // fires and the summary provably equals the exact counts (merge-
    // order-independent) — DuckDB's GROUP BY is the exact oracle; the
    // eviction regime's ε-guarantee is MisraGriesSpec territory
    "q_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = tbl(s, dir, "documents")
        .select(explode(Tokenize.tokenStrings(col("text"))).as("tok"))
        .as[String]
      val agg = new graft.util.MisraGries.Agg(HeavyHittersK)
      toks.select(agg.toColumn).toDF("hh")
        .select(explode(col("hh")).as("e"))
        .select(col("e._1").as("token"), col("e._2").as("est_freq"))
        .orderBy("token")
    }),

    // §2.4 #11 token_frequencies
    "q_token_freq" -> ((s, dir) =>
      TokenFrequencies
        .tokenFrequencies(tbl(s, dir, "documents"), "text")
        .orderBy("token")),

    // §2.4 #12 token_frequency_stats (flagship keyness)
    "q_keyness_en_rest" -> ((s, dir) => keyness(s, dir)),

    // skew path: two-phase salted aggregation over the token stream (the
    // stopword-heavy-hitter case) — must equal the direct groupBy exactly,
    // which the plain-GROUP-BY oracle pins. doc_id rides the salted rows
    // so byte-identical token structs from duplicated documents still
    // spread across sub-keys (the pre-dedup web corpus is exactly the
    // shape salting exists for)
    "q_salted_token_counts" -> ((s, dir) =>
      graft.util.Salting
        .saltedCount(
          tbl(s, dir, "documents")
            .select(col("doc_id"), explode(Tokenize.tokenize(col("text"))).as("t")),
          col("t.token"))
        .select(col("key").as("token"), col("count").as("freq"))
        .orderBy("token")),

    // collocations (beyond-reference text analytics): bigram PMI over the
    // token stream — adjacency via a lead window on (doc, pos), margins as
    // partitioned windows over ONE persisted corpus-scale aggregation, the
    // grand total a 1-row aggregate inlined as a literal (bigram type
    // counts are unbounded at scale — no global window anywhere)
    "q_bigram_pmi" -> ((s, dir) =>
      graft.text.Collocations
        .bigramPmi(tbl(s, dir, "documents"), "text")
        .withColumn("pmi", round(col("pmi"), 6))
        .orderBy("w1", "w2")),

    // collocations, ±k context: windowed co-occurrence PMI (Church &
    // Hanks's actual statistic; bigram PMI is window=1) — pair list
    // built elementwise by shifted zip_with, no positions self-join
    "q_cooc_pmi" -> ((s, dir) =>
      graft.text.Collocations
        .windowedPmi(tbl(s, dir, "documents"), "text", window = CoocWindow,
          maxTokensPerDoc = CoocMaxTokens)
        .withColumn("pmi", round(col("pmi"), 6))
        .orderBy("w1", "w2")),

    // §2.3 #10 concordance (KWIC): explode + unnest, mirroring the
    // reference's `.list.explode().struct.unnest()` consumption pattern
    "q_concordance" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          explode(Concordance.concordanceCol(col("text"), "spark", 5, 5)).as("c"))
        .select(col("doc_id"), col("c.*"))
        .orderBy("doc_id", "start_idx")),

    // LLM-pipeline curation: deterministic stratified sampling — up to K
    // docs per corpus chosen by content-hash order. Hash order is uniform
    // over each stratum and uncorrelated with storage order (no
    // first-file bias), reproducible across runs/engines, one shuffle on
    // the stratum key; the window prunes to K per group map-side
    "q_stratified_sample" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("pick_hash"), col("doc_id"))
      tbl(s, dir, "documents")
        .withColumn("pick_hash", sha2(coalesce(col("text"), lit("")), 256))
        .withColumn("pick_rank", row_number().over(w).cast("long"))
        .filter(col("pick_rank") <= 25)
        .select(col("lang"), col("pick_rank"), col("doc_id"))
        .orderBy("lang", "pick_rank")
    }),

    // LLM-pipeline: WEIGHTED corpus sampling (Efraimidis–Spirakis
    // without replacement) — length-biased per-lang sample: u from the
    // content sha256 (both engines derive the same draw), key ln(u)/w
    // with w = n_chars, per-stratum top-k window. The deterministic
    // form of "sample the corpus proportional to document weight"
    "q_weighted_sample" -> ((s, dir) =>
      graft.util.WeightedSample
        .sampleByWeight(tbl(s, dir, "documents"), "lang", "doc_id", "text", "n_chars", k = 20)
        .orderBy("lang", "pick_rank")),

    // LLM-pipeline: exact dedup — hash-partitioned window over sha256
    "q_dedup_exact" -> ((s, dir) =>
      graft.dedup.Dedup
        .exactDedup(tbl(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("content_hash"), col("dup_rank"), col("n_copies"))
        .orderBy("doc_id")),

    // incremental-curation change detection between two corpus
    // deliveries: yesterday's snapshot (%11≠0) vs today's (%13≠0, every
    // %7==0 doc revised) — added/removed/changed/unchanged per id by
    // content hash, so downstream re-work (re-tokenize, re-embed,
    // re-index) touches only the changed slice. Hash-only projections
    // ride the full-outer join; text never shuffles
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val yesterday = docs.filter(col("doc_id") % 11 =!= 0)
      val today = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(coalesce(col("text"), lit("")), lit(" rev")))
            .otherwise(col("text")))
      graft.dedup.Dedup.snapshotDiff(yesterday, today).orderBy("doc_id")
    }),

    // LLM-pipeline: exact dedup over clean_text-normalized content — the
    // normalized branch, where trivially-reformatted copies collapse
    "q_dedup_normalized" -> ((s, dir) =>
      graft.dedup.Dedup
        .exactDedup(tbl(s, dir, "documents"), "text", "doc_id", normalized = true)
        .select(col("doc_id"), col("content_hash"), col("dup_rank"), col("n_copies"))
        .orderBy("doc_id")),

    // LLM-pipeline: per-doc MinHash signatures (universal hash family over
    // FNV shingles, mod 2^61-1) — deterministic for the fixed seed, so the
    // oracle recomputes them from the same (a,b) constants
    // LLM-pipeline: SimHash near-dup PAIRS — the pigeonhole candidate
    // generator is EXHAUSTIVE for Hamming ≤ 3 (any pair differing in ≤ 3
    // of 64 bits shares one of the four 16-bit blocks), so the bucketed
    // engine output equals the all-pairs answer and an all-pairs DuckDB
    // self-join can check it exactly — an approximate-family operator
    // under the exact oracle
    "q_simhash_pairs" -> ((s, dir) =>
      graft.dedup.Dedup
        .simHashNearDuplicates(tbl(s, dir, "documents"), "text", "doc_id")
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")),

    // LLM-pipeline: MinHash-LSH near-dup pairs, high-recall banding
    // config (r=1, b=32: collision prob 1-(1-s)^32). Candidates and the
    // signature-agreement estimate are fully deterministic for the fixed
    // seed, so the DuckDB oracle re-derives bands and estimates from the
    // same (a,b) constants
    "q_minhash_pairs" -> ((s, dir) =>
      graft.dedup.Dedup
        .nearDuplicates(tbl(s, dir, "documents"), "text", "doc_id",
          numHashes = 32, shingleSize = 3, bands = 32, threshold = 0.125, seed = 42L)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("id_a", "id_b")),

    // LLM-pipeline: incremental curation against a PERSISTED dedup
    // index — the corpus two-thirds is signed once into build artifacts
    // (signatures + LSH band posting lists), and the probe near-dup-
    // checks the held-out third against them with no corpus recompute
    // and no corpus-sized exchange (all joins broadcast; spec-pinned).
    // The oracle re-derives signatures from the same seeded constants,
    // models the indexed/probe split, AND the whole-bucket cap.
    "q_dedup_index_probe" -> ((s, dir) =>
      graft.dedup.DedupIndexStore
        .probeDedupIndex(
          tbl(s, dir, "documents").filter(col("doc_id") % 3 === 0),
          dedupIndexDirFor(s, dir), "text", "doc_id", threshold = 0.125)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("id_new", "id_indexed")),

    // the same probe against the INCREMENTALLY built index (base third
    // + appended third under the persisted config): append must be
    // indistinguishable from the one-shot build, so this shares the
    // probe's exact oracle
    "q_dedup_index_append" -> ((s, dir) =>
      graft.dedup.DedupIndexStore
        .probeDedupIndex(
          tbl(s, dir, "documents").filter(col("doc_id") % 3 === 0),
          dedupAppendedIndexDirFor(s, dir), "text", "doc_id", threshold = 0.125)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("id_new", "id_indexed")),

    // the streaming-ingest path under the ORACLE (the exactly-once spec
    // made oracle-checkable): base third batch-built, %3==2 third
    // stream-ingested file-per-micro-batch through the checkpointed
    // idempotent sink — probing the result must be indistinguishable
    // from the one-shot build, so it shares the probe's exact oracle
    "q_stream_dedup_ingest" -> ((s, dir) =>
      graft.dedup.DedupIndexStore
        .probeDedupIndex(
          tbl(s, dir, "documents").filter(col("doc_id") % 3 === 0),
          dedupStreamIndexDirFor(s, dir), "text", "doc_id", threshold = 0.125)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("id_new", "id_indexed")),

    // the incremental composition end-to-end: today's delivery diffed
    // against yesterday's, and ONLY the fresh docs (added/changed per
    // snapshotDiff) reach the persisted-index probe — the production
    // daily loop (diff → probe → decide) composed under one oracle; the
    // diff bounds probe cost to the delta-of-the-delta
    "q_incremental_probe" -> ((s, dir) => {
      val delivery = tbl(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      val yesterday = delivery.filter(col("doc_id") % 5 =!= 2)
      val fresh = graft.dedup.Dedup.snapshotDiff(yesterday, delivery)
        .filter(col("status").isin("added", "changed"))
        .select("doc_id")
      graft.dedup.DedupIndexStore
        .probeDedupIndex(delivery.join(fresh, Seq("doc_id")),
          dedupIndexDirFor(s, dir), "text", "doc_id", threshold = 0.125)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("id_new", "id_indexed")
    }),

    // the FULL daily-curation loop over the persisted TRIPLE: diff →
    // decontaminate → dedup-probe → survivors appended to the dedup,
    // BM25, and ANN stores → stats read back from all three. One row
    // per pipeline stage/store; the DuckDB oracle re-derives the whole
    // loop — the diff rule, the 3-gram contamination set, the banded
    // near-dup probe with its bucket cap, and each store's post-append
    // bookkeeping (bands buckets, posting rows, ANN cell occupancy from
    // exported centroid literals + the exactly-replayable fixture embed)
    "q_daily_pipeline" -> ((s, dir) => {
      import s.implicits._
      val p = dailyPipelineFor(s, dir)
      val stages = Seq(
        ("delivery", p.nDelivery, 0L),
        ("fresh", p.nFresh, 0L),
        ("decontaminated", p.nClean, 0L),
        ("survivors", p.nSurvivors, 0L)).toDF("stage", "n_docs", "n_units")
      stages.unionByName(pipelineStoreStats(s, p)).orderBy("stage")
    }),

    // ...and DAY 2 of the loop: the same delivery re-arrives (the
    // common production case — an unchanged re-drop) and the WHOLE
    // loop runs for real against COPIES of the day-1 stores — the
    // snapshot diff yields ZERO fresh docs, the empty survivor set
    // flows through decontamination, the probe, and all three stores'
    // ACTUAL append paths (dailyPipelineDay2For), and the appended-to
    // copies must read back bit-for-bit as day 1 left them. The
    // oracle is the day-1 store replay with zeroed stage counts: the
    // loop — appends included, not short-circuited — is IDEMPOTENT
    // under re-delivery, under the DuckDB gate
    "q_daily_pipeline_day2" -> ((s, dir) => {
      import s.implicits._
      val p2 = dailyPipelineDay2For(s, dir)
      val stages = Seq(
        ("delivery", p2.nDelivery, 0L),
        ("fresh", p2.nFresh, 0L),
        ("decontaminated", p2.nClean, 0L),
        ("survivors", p2.nSurvivors, 0L)).toDF("stage", "n_docs", "n_units")
      stages.unionByName(pipelineStoreStats(s, p2)).orderBy("stage")
    }),

    // ...and the same takedown AFTER compaction: rows physically gone,
    // tombstones cleared. The oracle drops the deleted docs from BOTH
    // candidates and bucket sizes (physical buckets shrank), and the
    // pair set must equal the logical-delete query's — the lifecycle
    // invariant (delete → probe ≡ delete → compact → probe) under the
    // DuckDB gate, not just the spec
    "q_dedup_index_compacted" -> ((s, dir) =>
      graft.dedup.DedupIndexStore
        .probeDedupIndex(
          tbl(s, dir, "documents").filter(col("doc_id") % 3 === 0),
          dedupCompactedIndexDirFor(s, dir), "text", "doc_id", threshold = 0.125)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("id_new", "id_indexed")),

    // ...and compacted twice under graceVersions=2 (round 19): the
    // count-based retention keeps BOTH superseded trees on disk (the
    // builder asserts it) while the resolved current version must serve
    // pairs bit-identical to the single default compaction — retention
    // is an ops knob, invisible in results, under the DuckDB gate
    "q_dedup_index_compact_grace" -> ((s, dir) =>
      graft.dedup.DedupIndexStore
        .probeDedupIndex(
          tbl(s, dir, "documents").filter(col("doc_id") % 3 === 0),
          dedupGraceIndexDirFor(s, dir), "text", "doc_id", threshold = 0.125)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("id_new", "id_indexed")),

    // the REPLACE lifecycle on the dedup store: indexed %17==3 docs
    // re-signed with changed text through delete → compact → append.
    // The probe (ORIGINAL delivery text) must match against the
    // replacement signatures exactly as a one-shot build over the
    // replaced corpus would — stale signatures or band rows flip pairs
    // and fail the hash
    "q_dedup_index_replaced" -> ((s, dir) =>
      graft.dedup.DedupIndexStore
        .probeDedupIndex(
          tbl(s, dir, "documents").filter(col("doc_id") % 3 === 0),
          dedupReplacedIndexDirFor(s, dir), "text", "doc_id", threshold = 0.125)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("id_new", "id_indexed")),

    // dedup-index bookkeeping on the takedown index: doc/tombstone
    // counts plus the bucket distribution (distinct buckets, max bucket
    // size — the cap-pressure signal). Oracle re-derives everything
    // from the seeded signature constants and the split/delete rules
    "q_dedup_index_stats" -> ((s, dir) =>
      graft.dedup.DedupIndexStore
        .describeDedupIndex(s, dedupDeletedIndexDirFor(s, dir))),

    // the takedown path: doc_id%5==1 of the indexed corpus is
    // tombstoned (logical delete — rows still physical until a
    // compaction), and the probe must stop matching those ids
    // immediately. The oracle excludes the deleted set from CANDIDATES
    // but NOT from bucket sizes: the cap bounds physical probe cost,
    // and tombstoned rows stay physical (spec-pinned semantics)
    "q_dedup_index_delete" -> ((s, dir) =>
      graft.dedup.DedupIndexStore
        .probeDedupIndex(
          tbl(s, dir, "documents").filter(col("doc_id") % 3 === 0),
          dedupDeletedIndexDirFor(s, dir), "text", "doc_id", threshold = 0.125)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("id_new", "id_indexed")),

    // §2.7 caches: the content-addressed parquet cache on the tokenize
    // path, under the SAME oracle as the uncached query — the reference's
    // cached==uncached contract (tests/test_tokenize_cache.py:22-34)
    // checked by DuckDB instead of ScalaTest. One cache dir per JVM: the
    // bench warmup populates it, so the timed pass measures the HIT path
    // (left-anti finds nothing, only the lookup join runs) — the same
    // cached==uncached answer either way
    "q_tokenize_cached" -> ((s, dir) => {
      val cache = new graft.cache.TextCache(s, tokCacheDir)
      val out = cache.withCachedColumn(
        tbl(s, dir, "documents"), "text", "tokenize_plain", "tokens") { misses =>
        misses.select(col("content_hash"), Tokenize.tokenize(col("text")).as("tokens"))
      }
      out
        .select(col("doc_id"), explode(col("tokens")).as("t"))
        .select(col("doc_id"), col("t.token").as("token"))
        .orderBy("doc_id", "token")
    }),

    // §2.7 #24 token cache: the TYPED (model, params_hash, content_hash)
    // cache view over TextCache, under the SAME oracle as the uncached
    // tokenize — cached == uncached, the reference's contract for the
    // token table specifically (src/expressions.rs:235-299)
    "q_token_cached" -> ((s, dir) =>
      graft.cache.TypedCaches
        .cachedTokenize(s, typedTokCacheDir, tbl(s, dir, "documents"), "text")
        .select(col("doc_id"), explode(col("tokens")).as("t"))
        .select(col("doc_id"), col("t.token").as("token"))
        .orderBy("doc_id", "token")),

    // §2.7 #25 embedding cache: the (model, content_hash)-keyed cache on
    // the embed path. The registered FnvDigitModel fixture makes the
    // cached compute EXACTLY re-derivable in SQL (integer base-97 digits
    // of the text's FNV — no float pooling), so cached == uncached is
    // checked by DuckDB rather than ScalaTest, and the registry's
    // non-native registration path runs end-to-end (the WordPiece-fixture
    // pattern applied to the embedder registry)
    "q_embed_cached" -> ((s, dir) => {
      embedFixtureRegistered
      graft.cache.TypedCaches
        .cachedEmbed(s, embedCacheDir, tbl(s, dir, "documents"), "text", EmbedFixtureModelId)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(
          col("doc_id"),
          col("dim").cast("long").as("dim"),
          col("v").cast("double").as("v"))
        .orderBy("doc_id", "dim")
    }),

    // §2.6 #13/#16's ENGINE path under the exact oracle: Embedders.embed —
    // the real batch-32 mapPartitions engine every embedding consumer runs
    // through — driven by the FnvDigitModel fixture, full vectors
    // exploded. q_embed_cached checks the CACHE layer over this fixture;
    // this row checks the engine itself (batching, row reassembly, null
    // plumbing), so only the pseudo-MODEL remains rows-only by design
    "q_embed_fixture" -> ((s, dir) => {
      embedFixtureRegistered
      graft.embed.Embedders
        .embed(tbl(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", modelId = EmbedFixtureModelId)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(
          col("doc_id"),
          col("dim").cast("long").as("dim"),
          col("v").cast("double").as("v"))
        .orderBy("doc_id", "dim")
    }),

    // §2.8 compiled_features(): the feature-probe surface as a relation
    // (this build compiles every reference feature in — the shim's whole
    // contract), oracle = the same shared constant
    "q_features" -> ((s, dir) => {
      import s.implicits._
      graft.Features.compiledFeatures.toSeq.sorted
        .map(f => (f, graft.Features.isCompiled(f)))
        .toDF("feature", "compiled")
        .orderBy("feature")
    }),

    // §2.8 #7 model inventory: the predefined id → language table
    // (reference polars_text/models.py:22-57) surfaced as a relation; the
    // oracle re-lists it from the same shared constant (config shared,
    // nothing recomputed — it IS config)
    "q_models" -> ((s, dir) => {
      import s.implicits._
      TokenizerModels.inventory.toSeq
        .flatMap { case (m, langs) => langs.map(l => (m, l)) }
        .toDF("model_id", "lang")
        .orderBy("model_id", "lang")
    }),

    "q_minhash_sig" -> ((s, dir) =>
      graft.dedup.Dedup
        .minHashSignatures(tbl(s, dir, "documents"), "text", "doc_id",
          numHashes = 32, shingleSize = 3, seed = 42L)
        .select(col("id").as("doc_id"), posexplode(col("signature")).as(Seq("h", "min_hash")))
        .withColumn("h", col("h").cast("long"))
        .orderBy("doc_id", "h")),

    // LLM-pipeline: per-doc 64-bit SimHash (FNV token hashes, bit votes)
    "q_simhash" -> ((s, dir) =>
      graft.dedup.Dedup
        .simHashes(tbl(s, dir, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"), col("simhash"))
        .orderBy("doc_id")),

    // LLM-pipeline: exact token-set Jaccard over bucketed candidate pairs
    // (bucket = lang|source here; an LSH band at scale — never all-pairs)
    // the production near-dup config: MinHash-band candidates (the
    // scale-correct generator — see SCALING.md's jaccard-vs-minhash
    // regimes) verified by EXACT token-set Jaccard. Oracle replays the
    // banding from the inlined hash constants and the set intersection
    "q_jaccard_banded" -> ((s, dir) =>
      graft.dedup.Dedup
        .bandedJaccardPairs(
          tbl(s, dir, "documents"), "text", "doc_id",
          numHashes = 32, shingleSize = 3, bands = 32,
          threshold = 0.5, seed = 42L)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")),

    "q_jaccard_pairs" -> ((s, dir) =>
      graft.dedup.Dedup
        .jaccardPairs(
          tbl(s, dir, "documents"),
          "text",
          "doc_id",
          concat_ws("|", col("lang"), col("source")),
          threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")),

    // LLM-pipeline: exact edit-distance near-dup pairs — the short-text
    // dedup tier; bucketed + length-banded candidates (never all-pairs),
    // banded codegen'd levenshtein(threshold) DP
    "q_edit_pairs" -> ((s, dir) =>
      graft.dedup.Dedup
        .editDistancePairs(tbl(s, dir, "documents"), "text", "doc_id",
          concat_ws("|", col("lang"), col("source")), maxDistance = EditMaxDistance)
        .orderBy("id_a", "id_b")),

    // LLM-pipeline: exact cosine top-10 for a broadcast query set; the
    // LSH-bucketed ANN variant is spec-tested (approximate → no oracle)
    "q_knn_cosine" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.Similarity
        .bruteForceTopK(emb.filter(col("vec_id") < 5), emb, k = 10)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    // embedding serving tier: top-k over int8 codes — scales cancel in
    // cosine, so similarity is integer dot products end-to-end (exact
    // arithmetic, bit-reproducible, fully oracle-checkable)
    "q_knn_int8" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.Similarity
        .int8TopK(emb.filter(col("vec_id") < 5), emb, k = 10)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    // LLM-pipeline: embedding-cosine near-dup — sign-LSH bucket posting
    // lists → exact cosine verify. The seeded hyperplanes are exported
    // (Similarity.lshPlanes) and inlined into the oracle, which re-derives
    // buckets, candidates, and similarities entirely in SQL — the whole
    // approximate pipeline under the exact oracle
    "q_embed_neardup" -> ((s, dir) =>
      graft.dedup.Dedup
        .embeddingNearDuplicates(tbl(s, dir, "embeddings"), "embedding", "vec_id",
          threshold = 0.3, tables = 4, bits = 8, seed = 42L)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("id_a", "id_b")),

    // LLM-pipeline: IVF-Flat ANN, the similarity-search scale path — the
    // seeded k-means quantizer is deterministic, so the TRAINED centroids
    // are exported (Similarity.trainedCentroids) and the oracle re-derives
    // cell assignment, nProbe probing and the cosine re-rank entirely in
    // SQL (ivfOracleSql); recall vs brute force is spec-tested
    "q_knn_ivf" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.Similarity
        .ivfTopK(emb.filter(col("vec_id") < IvfQueryMax), emb,
          k = IvfK, nCells = IvfCells, nProbe = IvfProbe, seed = IvfSeed)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    // LLM-pipeline: SemDeDup (Abbas et al. 2023) — semantic near-dup
    // pruning: k-means cells bound the pairwise comparisons, components
    // over within-cell cosine >= threshold, keep the member least
    // similar to its cell centroid. Same trained centroids as q_knn_ivf;
    // the oracle re-derives every decision from the exported centroid
    // literals (semDedupOracleSql)
    "q_semdedup" -> ((s, dir) =>
      graft.similarity.Similarity
        .semDedup(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = SemDedupThreshold, nCells = IvfCells, seed = IvfSeed,
          sampleSize = IvfSampleSize)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")),

    // embedding serving stack COMPOSED: IVF cell routing (the trained
    // float centroids) over int8-coded inverted lists with integer-dot
    // re-rank — the two already-green tiers in the layout a real 100 TB
    // ANN service runs; approximate only by routing, arithmetic exact,
    // so the whole stack sits under the oracle (ivfInt8OracleSql)
    "q_knn_ivf_int8" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.Similarity
        .ivfInt8TopK(emb.filter(col("vec_id") < IvfQueryMax), emb,
          k = IvfK, nCells = IvfCells, nProbe = IvfProbe, seed = IvfSeed)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    // LLM-pipeline: product quantization (Jégou 2011) — the ANN
    // memory-compression tier: per-subspace k-means codebooks (trained on
    // the seeded sample, exported as oracle literals), one elementwise
    // codegen'd encode scan, no shuffle. DuckDB re-derives every code by
    // argmin over the same literals
    "q_pq_codes" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cbs = pqCodebooksFor(s, dir)
      emb
        .select(col("vec_id"),
          posexplode(graft.similarity.ProductQuant.encodeCol(col("embedding"), cbs))
            .as(Seq("m", "code")))
        .orderBy("vec_id", "m")
    }),

    // LLM-pipeline: PQ asymmetric-distance top-k — queries keep exact
    // floats (one lookup table per query), the corpus is ranked from its
    // 8 codes alone; approximate by quantization, arithmetic exact
    // (ordered double folds), so ranks sit under the exact oracle
    "q_knn_pq" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.ProductQuant
        .pqTopK(emb.filter(col("vec_id") < IvfQueryMax), emb,
          k = IvfK, m = PqM, kCent = PqCent, seed = IvfSeed, sampleSize = IvfSampleSize,
          codebooks = pqCodebooksFor(s, dir))
        .orderBy("query_id", "rank")
    }),

    // the full PQ serving contract: codes-only ADC shortlist, then exact
    // float cosine re-ranking of the shortlist — the stage that restores
    // within-cluster ordering (pure ADC can't rank inside a tight
    // cluster). Deterministic shortlist + fused codegen cosine → exact
    // oracle end-to-end
    "q_knn_pq_rerank" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.ProductQuant
        .pqTopKRerank(emb.filter(col("vec_id") < IvfQueryMax), emb,
          k = IvfK, shortlistK = PqShortlist,
          m = PqM, kCent = PqCent, seed = IvfSeed, sampleSize = IvfSampleSize,
          codebooks = pqCodebooksFor(s, dir))
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    // OPQ (Ge 2013): PQ behind a LEARNED orthogonal rotation — the
    // alternating codebook/Procrustes-SVD trainer redistributes
    // variance across subspaces (spec-demonstrated 2x recall on
    // anisotropic data; ranking-invariant by orthogonality). Serving
    // reuses the whole PQ stack on the rotated column (one codegen'd
    // mat-vec per row); the oracle replays rotation, codes, and ADC
    // ranks from the exported rotation + codebook literals
    "q_knn_opq" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val (rot, cbs) = opqFor(s, dir)
      val rotQ = emb.filter(col("vec_id") < IvfQueryMax)
        .select(col("vec_id"), graft.similarity.Opq.rotateCol(col("embedding"), rot).as("embedding"))
      val rotCodes = emb.select(
        col("vec_id").as("neighbor_id"),
        graft.similarity.ProductQuant
          .encodeCol(graft.similarity.Opq.rotateCol(col("embedding"), rot), cbs).as("codes"))
      graft.similarity.ProductQuant
        .adcTopK(rotCodes, rotQ, cbs, k = IvfK)
        .orderBy("query_id", "rank")
    }),

    // ANN evaluation tier: recall@k of the codes-only ADC ranking
    // against the exact cosine top-k (valid because the embeddings are
    // unit-norm: L2 and cosine orders agree) — the quality metric every
    // production ANN deployment monitors. Both rankings and the overlap
    // are deterministic, so even the EVALUATION sits under the exact
    // oracle (DuckDB re-derives exact ranks, ADC ranks from the
    // codebook literals, and the per-query overlap)
    "q_knn_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < IvfQueryMax)
      val exact = graft.similarity.Similarity
        .bruteForceTopK(queries, emb, k = IvfK)
        .select(col("query_id"), col("neighbor_id"))
      val approx = graft.similarity.ProductQuant
        .pqTopK(queries, emb, k = IvfK, m = PqM, kCent = PqCent,
          seed = IvfSeed, sampleSize = IvfSampleSize, codebooks = pqCodebooksFor(s, dir))
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact
        .join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(round(sum(coalesce(col("hit"), lit(0L))).cast("double") / lit(IvfK), 6).as("recall"))
        .orderBy("query_id")
    }),

    // the persist-and-serve contract: the same ADC-shortlist + exact
    // re-rank pipeline as q_knn_pq_rerank, but served ENTIRELY from the
    // parquet index a separate build job wrote (codebooks + corpus
    // codes) — the serving plan contains no k-means and no encode scan,
    // the production split where index build and query are different
    // jobs. Deterministic training ⇒ served results are bit-identical
    // to the in-session path, so the same exact oracle applies
    "q_knn_served" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore
        .servePqTopK(emb.filter(col("vec_id") < IvfQueryMax), emb, pqIndexDirFor(s, dir),
          k = IvfK, shortlistK = PqShortlist)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    // incremental index maintenance under the oracle: the index is
    // built over the even half of the corpus and the odd half arrives
    // as an appended DELTA encoded with the PERSISTED codebooks (read
    // back, never retrained). The final code table must equal the
    // one-shot build's — so serving from it shares q_knn_pq_rerank's
    // exact oracle, which is precisely the invariant that makes
    // daily-delta ingestion safe at 100 TB
    "q_knn_index_append" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore
        .servePqTopK(emb.filter(col("vec_id") < IvfQueryMax), emb, pqAppendedIndexDirFor(s, dir),
          k = IvfK, shortlistK = PqShortlist)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    // ...and the STREAMING delta path: the odd half drains through a
    // checkpointed foreachBatch ingest (AvailableNow, one delta dir per
    // micro-batch, exactly-once by idempotent batch-scoped overwrite —
    // restart-after-kill appends no duplicate codes, the
    // StreamIndexIngestSpec pin). Served results must still equal the
    // one-shot build's, under the same exact oracle
    "q_stream_index_append" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore
        .servePqTopK(emb.filter(col("vec_id") < IvfQueryMax), emb, pqStreamIndexDirFor(s, dir),
          k = IvfK, shortlistK = PqShortlist)
        .withColumn("sim", round(col("sim"), 6))
        .orderBy("query_id", "rank")
    }),

    // ANN capstone — IVFADC (Jégou 2011 §IV), the paper's composed
    // layout: coarse cells route, PQ codes the RESIDUAL to the cell
    // centroid, queries probe nProbe cells with one residual lookup
    // table each. Same trained centroids as q_knn_ivf; approximate by
    // routing+quantization, arithmetic exact (float−float differences
    // are double-exact), so the oracle re-derives codes and ranks from
    // the exported centroid + residual-codebook literals
    "q_knn_ivfpq" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IvfPq
        .ivfPqTopK(emb.filter(col("vec_id") < IvfQueryMax), emb,
          k = IvfK, nCells = IvfCells, nProbe = IvfProbe,
          m = PqM, kCent = PqCent, seed = IvfSeed, sampleSize = IvfSampleSize,
          coarseCentroids = ivfCentroidsFor(s, dir),
          residCodebooks = ivfResidCodebooksFor(s, dir))
        .orderBy("query_id", "rank")
    }),

    // the recall/latency dial every IVF deployment tunes: recall@k per
    // nProbe (1..IvfProbe) against the exact cosine top-k. The oracle
    // re-derives the whole sweep from exported literals, so even the
    // evaluation curve is exact. NOTE the curve is typically but not
    // universally increasing: the candidate SET grows monotonically
    // (ProbeSweepSpec pins that), while codes-only ADC ranking can
    // displace a true hit with a quantization-flattered newcomer — the
    // dip the rerank stage (q_knn_pq_rerank) exists to remove
    "q_knn_probe_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < IvfQueryMax)
      val exact = graft.similarity.Similarity
        .bruteForceTopK(queries, emb, k = IvfK)
        .select(col("query_id"), col("neighbor_id"))
      // encode ONCE, rank per probe depth — the codes are independent
      // of nProbe, so the sweep shares a single corpus encode scan
      val lists = graft.similarity.IvfPq.encodeIvfLists(
        emb, ivfCentroidsFor(s, dir), ivfResidCodebooksFor(s, dir))
      val perProbe = (1 to IvfProbe).map { p =>
        graft.similarity.IvfPq
          .ivfPqTopKFromLists(lists, queries,
            ivfCentroidsFor(s, dir), ivfResidCodebooksFor(s, dir),
            k = IvfK, nProbe = p)
          .select(lit(p).as("n_probe"), col("query_id"), col("neighbor_id"),
            lit(1L).as("hit"))
      }.reduce(_ unionByName _)
      exact
        .withColumn("n_probe", explode(array((1 to IvfProbe).map(lit): _*)))
        .join(perProbe, Seq("n_probe", "query_id", "neighbor_id"), "left")
        .groupBy(col("n_probe"), col("query_id"))
        .agg(round(sum(coalesce(col("hit"), lit(0L))).cast("double") / lit(IvfK), 6).as("recall"))
        .orderBy("n_probe", "query_id")
    }),

    // the IVFADC persist-and-serve path: coarse/resid artifacts + codes
    // partitioned by cell on disk; serving probes nProbe cells and the
    // broadcast probe join DYNAMICALLY PRUNES unprobed cell partitions
    // from the codes scan (PlanShapeSpec pins the pruning subquery) —
    // at 100 TB the query reads nProbe/nCells of the index. Same
    // trained artifacts as q_knn_ivfpq ⇒ bit-identical, same oracle
    "q_knn_ivf_served" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore
        .serveIvfPqTopK(emb.filter(col("vec_id") < IvfQueryMax), ivfIndexDirFor(s, dir),
          k = IvfK, nProbe = IvfProbe)
        .orderBy("query_id", "rank")
    }),

    // ...and a BATCH of queries (~|corpus|/7, vs the 5-query per-call
    // set) through the SAME one-call serving plan: the artifact
    // collects, the broadcast LUT build, and the codes scan are paid
    // once for the whole batch — per-query cost falls with batch size
    // (measured in SCALING.md) while each query's rows stay exactly
    // what serving it alone returns, which is what the oracle computes
    // per query from the same exported literals
    "q_knn_served_batch" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore
        .serveIvfPqTopK(emb.filter(col("vec_id") % 7 === 2), ivfIndexDirFor(s, dir),
          k = IvfK, nProbe = IvfProbe)
        .orderBy("query_id", "rank")
    }),

    // ...and the composed stack SERVED from disk: persisted rotation +
    // rotated-space IVF artifacts; queries rotate through the stored
    // matrix and ride the cell-pruned serving path. Same training ⇒
    // bit-identical to q_knn_opq_ivf, same oracle — the full
    // `OPQ,IVF,PQ` production config end to end
    // the ops surface of the persisted IVF index: per-cell code counts
    // (cell imbalance — the retrain-the-quantizer signal) and tombstone
    // counts (takedown debt the next compaction reclaims), on the index
    // with the %7==3 takedown applied. The oracle re-derives the cell
    // routing from exported centroid literals and the tombstone set
    // from the delete rule — even the bookkeeping is exact
    "q_knn_index_stats" -> ((s, dir) =>
      graft.similarity.IndexStore
        .describeIvfIndex(s, ivfDeletedIndexDirFor(s, dir))),

    // serving with a takedown applied: vec_id%7==3 tombstoned out of
    // the persisted index (FAISS remove_ids, re-expressed for a
    // distributed store) — excluded BEFORE top-k selection, so served
    // results equal an index rebuilt without them; ranks reflow and the
    // oracle recomputes them from the same exported literals
    "q_knn_ivf_served_delete" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore
        .serveIvfPqTopK(emb.filter(col("vec_id") < IvfQueryMax), ivfDeletedIndexDirFor(s, dir),
          k = IvfK, nProbe = IvfProbe)
        .orderBy("query_id", "rank")
    }),

    // ...and the takedown AFTER compaction: the cell-partitioned codes
    // tree is rewritten without the tombstoned vectors and the
    // tombstones cleared — served results must be identical to the
    // logical-delete index (delete → serve ≡ delete → compact → serve),
    // the same lifecycle invariant the dedup index pins, under the
    // DuckDB gate rather than just IndexStoreSpec
    "q_knn_ivf_served_compacted" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore
        .serveIvfPqTopK(emb.filter(col("vec_id") < IvfQueryMax), ivfCompactedIndexDirFor(s, dir),
          k = IvfK, nProbe = IvfProbe)
        .orderBy("query_id", "rank")
    }),

    // the REPLACE lifecycle on the ANN store: %17==3 documents
    // re-embedded and re-encoded through delete → compact → append
    // (encoding with the PERSISTED artifacts — never retrained), on the
    // document IVFADC index. Queries are unreplaced docs (ids disjoint
    // from the replace set), and serving must equal an index built
    // directly over the replaced corpus — a stale code in any cell
    // flips ADC distances and fails the hash
    "q_knn_replaced" -> ((s, dir) => {
      embedFixtureRegistered
      val queries = embedDocsFixture(tbl(s, dir, "documents"))
        .filter(col("vec_id") < 5 && col("vec_id") % 17 =!= 3)
      graft.similarity.IndexStore
        .serveIvfPqTopK(queries, docAnnReplacedIndexDirFor(s, dir),
          k = IvfK, nProbe = IvfProbe)
        .orderBy("query_id", "rank")
    }),

    // ...and the composed stack's BATCH: ~|corpus|/7 queries rotated
    // through the persisted matrix and served in ONE cell-pruned plan —
    // the rotation mat-vec, artifact collects and LUT broadcasts are
    // per-batch costs, per-query rows exactly what serving each alone
    // returns (the same exported-literal oracle, batch filter in the
    // probe CTE)
    "q_knn_opq_served_batch" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore
        .serveOpqIvfTopK(emb.filter(col("vec_id") % 7 === 2), opqIvfIndexDirFor(s, dir),
          k = IvfK, nProbe = IvfProbe)
        .orderBy("query_id", "rank")
    }),

    "q_knn_opq_ivf_served" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      graft.similarity.IndexStore
        .serveOpqIvfTopK(emb.filter(col("vec_id") < IvfQueryMax), opqIvfIndexDirFor(s, dir),
          k = IvfK, nProbe = IvfProbe)
        .orderBy("query_id", "rank")
    }),

    // OPQ composed with IVFADC — the FAISS-style `OPQ,IVF,PQ` config a
    // real 100 TB ANN deployment runs (Ge 2013 §5): one codegen'd
    // mat-vec rotates each vector, then the UNCHANGED IVFADC stack
    // (coarse routing + residual codes + per-probe LUTs) runs in the
    // rotated space. Rotation is orthogonal so exact geometry is
    // invariant; cells and residual codebooks are trained rotated.
    // Oracle replays rotation, cells, codes and ranks from exported
    // literals; the recall-vs-plain-IVFADC inequality is OpqSpec's
    "q_knn_opq_ivf" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val (rot, cents, rcbs) = opqIvfFor(s, dir)
      val rotAll = emb.select(
        col("vec_id"), graft.similarity.Opq.rotateCol(col("embedding"), rot).as("embedding"))
      graft.similarity.IvfPq
        .ivfPqTopK(rotAll.filter(col("vec_id") < IvfQueryMax), rotAll,
          k = IvfK, nCells = IvfCells, nProbe = IvfProbe,
          m = PqM, kCent = PqCent, seed = IvfSeed, sampleSize = IvfSampleSize,
          coarseCentroids = cents, residCodebooks = rcbs)
        .orderBy("query_id", "rank")
    }),

    // topic §2.6 #15 chunking: on this corpus (one paragraph, no sentence
    // terminators, 1 token/word) the greedy packer provably degenerates to
    // exact maxTokens-word blocks with no overlap carry (a full unit never
    // fits under the cap with anything else), so the word-packing path is
    // SQL-recomputable; the paragraph/sentence recursion is spec-tested
    "q_chunking" -> ((s, dir) => {
      val chunkTexts = org.apache.spark.sql.graft.Bridge.column(
        graft.topic.ChunkTextsExpr(
          org.apache.spark.sql.graft.Bridge.expression(col("text")),
          maxTokens = 16, overlap = 4, modelId = ""))
      tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(chunkTexts).as(Seq("chunk_idx", "chunk_text")))
        .withColumn("chunk_idx", col("chunk_idx").cast("long"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // topic §2.6 #19 c-TF-IDF: topics injected as the lang column — the
    // distributed scoring algebra is what's under test
    "q_ctfidf_topk" -> ((s, dir) => {
      val counts = graft.topic.Ctfidf
        .countTopicTerms(tbl(s, dir, "documents"), "text", col("lang"))
      graft.topic.Ctfidf
        .topTerms(counts, topK = 10)
        .withColumn("score", round(col("score"), 6))
        .orderBy("topic", "rank")
    }),

    // topic §2.6 #20 rollup: chunk labels injected deterministically from
    // token length so the proportion/dominant algebra is SQL-checkable
    "q_topic_rollup" -> ((s, dir) => {
      val chunks = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(Tokenize.tokenize(col("text"))).as("t"))
        .select(col("doc_id"), (length(col("t.token")) % 4 - 1).cast("int").as("label"))
      graft.topic.Rollup
        .rollup(chunks)
        .withColumn("proportion", round(col("proportion"), 6))
        .orderBy("doc_id", "topic_id")
    }),

    // text-analysis tier: script+marker language id
    "q_lang_id" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    // text-analysis tier: quality metrics + composite score
    "q_quality" -> ((s, dir) => {
      val metrics = TextAnalysis.qualityMetrics(col("text"))
      val rounded = metrics.map {
        case (n @ ("punct_ratio" | "digit_ratio" | "stopword_ratio" | "quality_score"), c) =>
          round(c, 6).as(n)
        case (n, c) => c.as(n)
      }
      tbl(s, dir, "documents")
        .select(col("doc_id") +: rounded: _*)
        .orderBy("doc_id")
    }),

    // curation: GPT-3-style decontamination — 'en' as the eval split,
    // every other language as training data; 3-grams on this vocabulary
    // give a non-trivial overlap set
    "q_decontaminate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.dedup.Decontaminate
        .overlap(
          docs.filter(col("lang") =!= "en"),
          docs.filter(col("lang") === "en"),
          "text", "doc_id", n = 3)
        .orderBy("doc_id")
    }),

    // curation, the JOIN-FREE decontamination gate: the eval split's
    // n-grams fit an m-bit Bloom set (one bounded aggregation, <= m/64
    // longs to the driver) and the training scan probes the bitset
    // LITERAL elementwise — zero exchanges where the exact overlap pays
    // a gram-keyed one. Deterministic seeded positions make the flag set
    // (false positives included) exactly re-derivable by the oracle; no
    // false negatives by construction (spec-pinned vs the exact join)
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bloom = graft.dedup.BloomDecontaminate.fitBloom(
        docs.filter(col("lang") === "en"), "text", BloomN, BloomM, BloomK)
      graft.dedup.BloomDecontaminate
        .probe(docs.filter(col("lang") =!= "en"), "text", "doc_id",
          bloom, BloomN, BloomM, BloomK)
        .orderBy("doc_id")
    }),

    // curation audit: cross-domain contamination matrix — which languages
    // share exact 3-grams, as one gram-keyed aggregation with elementwise
    // pair expansion over the (tiny) per-gram domain set; the oracle
    // re-derives it as a gram self-join (two formulations, one answer)
    "q_cross_domain" -> ((s, dir) =>
      graft.dedup.Decontaminate
        .crossDomainOverlap(tbl(s, dir, "documents"), "text", "lang", n = 3)
        .orderBy("domain_a", "domain_b")),

    // dedup cluster resolution: SimHash near-dup pairs resolved into
    // transitive connected components (min-label propagation, unique
    // fixpoint → deterministic) — the keep-one-representative step after
    // any pair-generating dedup operator
    "q_dup_clusters" -> ((s, dir) =>
      graft.dedup.Dedup
        .duplicateClusters(graft.dedup.Dedup
          .simHashNearDuplicates(tbl(s, dir, "documents"), "text", "doc_id"))
        .orderBy("doc_id")),

    // the same resolution through minVia = "auto" (round 18): the
    // per-round shape pick must be INVISIBLE in the result — identical
    // rows under the identical recursive-CTE oracle. At this scale the
    // probe gate keeps auto on the window shape with zero extra jobs;
    // the pick is exercised at scale by ScaleProbe's cc fixtures.
    "q_dup_clusters_auto" -> ((s, dir) =>
      graft.dedup.Dedup
        .duplicateClusters(graft.dedup.Dedup
          .simHashNearDuplicates(tbl(s, dir, "documents"), "text", "doc_id"),
          minVia = "auto")
        .orderBy("doc_id")),

    // dedup tier, sub-document: corpus-wide exact span dedup with doc
    // reassembly (the repeated-substring scrub) — spans built elementwise
    // from the token array, TWO exchanges total (span-key window +
    // doc-key rebuild)
    "q_span_dedup" -> ((s, dir) =>
      graft.dedup.SpanDedup
        .dropRepeatedSpans(tbl(s, dir, "documents"), "text", "doc_id",
          spanWords = SpanDedupWords)
        .orderBy("doc_id")),

    // dedup tier, sub-document at ARBITRARY offsets: stride-1 rolling
    // shingle keys (the Lee et al. 2022 repeated-substring semantics the
    // fixed-grid q_span_dedup misses) — hashed keys through the span-key
    // window, token arrays union'd in as sentinel rows, exactly TWO
    // exchanges, join-free
    "q_span_dedup_s1" -> ((s, dir) =>
      graft.dedup.SpanDedup
        .dropRepeatedShingles(tbl(s, dir, "documents"), "text", "doc_id",
          shingleWords = ShingleWords)
        .orderBy("doc_id")),

    // dedup tier, audit: per-doc cross-document shingle sharing (the
    // "fraction of corpus duplicated" statistic) — distinct pairs reduce
    // map-side, per-key doc counts on a key-partitioned window, verdict
    // joins only (id, counts) back; text never moves
    "q_novelty_audit" -> ((s, dir) =>
      graft.dedup.SpanDedup
        .shingleNoveltyAudit(tbl(s, dir, "documents"), "text", "doc_id",
          shingleWords = ShingleWords)
        .orderBy("doc_id")),

    // dedup tier, fingerprint selection: winnowing (the MOSS scheme) —
    // ~2/(w+1) of the shingle stream with a guaranteed hit for any shared
    // run of >= w+k-1 tokens, all selected elementwise in one codegen'd
    // expression (zero shuffle before the output sort)
    "q_winnow" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.winnowFingerprints(col("text"), WinnowK, WinnowW)).as("f"))
        .select(col("doc_id"), col("f.pos").as("pos"), col("f.fp").as("fp"))
        .orderBy("doc_id", "pos")),

    // dedup tier: winnow-fingerprint near-dup pairs — the MOSS pipeline
    // end-to-end over the posting-list machinery; containment score on
    // the fingerprint sets, guaranteed recall for long shared runs
    "q_winnow_pairs" -> ((s, dir) =>
      graft.dedup.Dedup
        .winnowNearDuplicates(tbl(s, dir, "documents"), "text", "doc_id",
          shingleWords = WinnowK, window = WinnowW, minShared = 2)
        .withColumn("overlap", round(col("overlap"), 6))
        .orderBy("id_a", "id_b")),

    // dedup tier end-to-end: the survivor corpus after fuzzy dedup —
    // cluster members other than the canonical (min-id) representative are
    // dropped via ONE left-anti doc-keyed join; pair generation and
    // cluster resolution never touch the document text
    "q_neardup_survivors" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val losers = graft.dedup.Dedup
        .duplicateClusters(graft.dedup.Dedup
          .simHashNearDuplicates(docs, "text", "doc_id"))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // ...and the PRODUCTION representative policy on the same clusters:
    // keep the highest-quality member (longest here — the keep-fullest-
    // version posture), not the smallest id. Cluster resolution stays
    // pair-domain-sized; the argmax is one window partitioned by
    // cluster_id; the corpus is touched once, on the left-anti probe
    "q_neardup_best" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.dedup.Dedup
        .survivorsByQuality(
          docs, graft.dedup.Dedup.simHashNearDuplicates(docs, "text", "doc_id"),
          "doc_id", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // dedup tier end-to-end, fingerprint flavor: the winnow (MOSS) pipeline
    // composed to its end use — fingerprint pairs → transitive clusters →
    // left-anti survivors. Pair generation reads fingerprints only
    // (~2/(w+1) of the shingle stream), cluster resolution reads pairs
    // only, and the document text appears solely on the left-anti probe
    // side: the corpus is never re-scanned past the one fingerprint pass
    "q_winnow_survivors" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val losers = graft.dedup.Dedup
        .duplicateClusters(graft.dedup.Dedup
          .winnowNearDuplicates(docs, "text", "doc_id",
            shingleWords = WinnowK, window = WinnowW, minShared = 2))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // LLM-assembly tier: fixed-token-budget sequence packing — shard-local
    // running totals (windows always PARTITIONED by shard; packing is the
    // one inherently sequential pipeline step, so shards are the unit of
    // parallelism), exact integer bin arithmetic
    "q_seq_pack" -> ((s, dir) =>
      graft.text.SequencePack
        .pack(tbl(s, dir, "documents"), "text", "doc_id",
          budget = SeqPackBudget, nShards = SeqPackShards)
        .orderBy("doc_id")),

    // ...and the step before packing: the deterministic epoch shuffle.
    // (shard, pos) is a reproducible pseudo-random total order (salted
    // FNV of the id — never rand()), recomputable by any engine; hash
    // is codegen'd over ids only, rank window partitioned by shard
    "q_train_order" -> ((s, dir) =>
      graft.text.SequencePack
        .trainOrder(tbl(s, dir, "documents"), "doc_id", nShards = 8, salt = "epoch0")
        .orderBy("doc_id")),

    // curation tier: corpus-trained unigram-LM cross-entropy (the CCNet
    // LM-quality signal, order-0, zero-egress) — vocab-sized model frame
    // broadcast back over the token stream, grand total as a literal
    "q_perplexity" -> ((s, dir) =>
      graft.text.LanguageModel
        .unigramCrossEntropy(tbl(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // quality tier: the Gopher/MassiveWeb rule bundle (Rae et al. 2021
    // A1.1) — word-count band, mean word length, symbol ratio, bullet/
    // ellipsis line fractions, alpha-word fraction, distinct-stop-word
    // floor, and the conjunction keep flag; pure elementwise Column
    // program over whitespace words and lines (scan speed, no model)
    "q_gopher_rules" -> ((s, dir) => {
      val m = graft.text.GopherRules.metrics(col("text")).toMap
      tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          m("n_words").as("n_words"),
          round(m("mean_word_len"), 6).as("mean_word_len"),
          round(m("symbol_ratio"), 6).as("symbol_ratio"),
          round(m("bullet_frac"), 6).as("bullet_frac"),
          round(m("ellipsis_frac"), 6).as("ellipsis_frac"),
          round(m("alpha_frac"), 6).as("alpha_frac"),
          m("stop_hits").as("stop_hits"),
          m("keep").as("keep"))
        .orderBy("doc_id")
    }),

    // curation tier: CCNet's head/middle/tail split — per-LANGUAGE
    // perplexity terciles (Wenzek et al. 2020 §4.3) via ntile over a
    // lang-PARTITIONED window totally ordered by (rounded score, doc_id);
    // the one exchange beyond scoring is the doc-keyed lang join
    "q_ccnet_buckets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(s, dir, "documents")
      val scored = graft.text.LanguageModel
        .unigramCrossEntropy(docs, "text", "doc_id")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("bits_per_token"), col("doc_id"))
      docs.select(col("doc_id"), col("lang"))
        .join(scored, "doc_id")
        .withColumn("tercile", ntile(3).over(w))
        .select(
          col("doc_id"), col("lang"), col("bits_per_token"),
          when(col("tercile") === 1, "head")
            .when(col("tercile") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }),

    // curation tier, artifact lifecycle: fit the unigram model ONCE,
    // persist it as a parquet artifact, load it back, score with the
    // loaded model — the train-once / score-many posture real pipelines
    // run (a saved model scores new corpus shards without refitting);
    // answers the SAME oracle as q_perplexity, pinning saved == fresh
    "q_perplexity_saved" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val path = Scratch.dir("lm").toString + "/unigram"
      graft.text.LanguageModel.fitUnigram(docs, "text").write.mode("overwrite").parquet(path)
      graft.text.LanguageModel
        .scoreUnigram(docs, "text", "doc_id", s.read.parquet(path))
        .orderBy("doc_id")
    }),

    // curation tier, order-1: interpolated bigram-LM cross-entropy (the
    // Jelinek-Mercer rung toward CCNet's KenLM) — adjacency derived
    // elementwise from the token array, unigram model broadcast, bigram
    // counts joined on the pair key (vocab²-bounded, never broadcast)
    "q_perplexity_bigram" -> ((s, dir) =>
      graft.text.LanguageModel
        .bigramCrossEntropy(tbl(s, dir, "documents"), "text", "doc_id",
          lambda = BigramLambda)
        .orderBy("doc_id")),

    // curation tier, order-2: interpolated trigram-LM cross-entropy — the
    // next rung toward KenLM; trigram counts join on the TRIPLE key
    // (vocab³-bounded, even less broadcast-safe than the bigram table),
    // margins as partitioned windows, contexts derived elementwise
    "q_perplexity_trigram" -> ((s, dir) =>
      graft.text.LanguageModel
        .trigramCrossEntropy(tbl(s, dir, "documents"), "text", "doc_id",
          lambda3 = TrigramL3, lambda2 = TrigramL2)
        .orderBy("doc_id")),

    // LLM-assembly tier: vocabulary-free training encode by feature
    // hashing — pure elementwise Column program (one scan, zero shuffle,
    // no vocabulary build/broadcast), ids from the oracle-recomputable
    // code-point rolling hash
    "q_encode_ids" -> ((s, dir) =>
      graft.text.Encoding
        .featureHashIds(tbl(s, dir, "documents"), "text", "doc_id", dim = EncodeDim)
        .orderBy("doc_id", "pos")),

    // curation tier: trained quality gate — closed-form multinomial
    // Naive Bayes over feature-hashed ids (the GPT-3-style classifier
    // filter with a count-based fit, so train AND score are both under
    // the exact oracle); labels from the trusted lang column, the same
    // signal the keyness/decontamination queries split on
    "q_quality_clf" -> ((s, dir) =>
      graft.text.QualityClassifier
        .naiveBayesScore(tbl(s, dir, "documents"), "text", "doc_id",
          col("lang") === "en", dim = EncodeDim)
        .orderBy("doc_id")),

    // curation tier: DSIR importance weighting — log-ratio of the
    // target-domain (en) vs raw hashed-bigram models, the standard
    // data-selection operator; both fits and the scoring pass re-derived
    // end-to-end by the oracle
    "q_importance" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.text.Importance
        .importanceWeights(docs, docs.filter(col("lang") === "en"),
          "text", "doc_id", dim = EncodeDim)
        .orderBy("doc_id")
    }),

    // curation tier: weighted domain-mixture sampling — deterministic
    // seeded hash gate (reproducible, retry-stable, oracle-checkable),
    // rate table compiled into the plan as a literal CASE chain
    "q_domain_mix" -> ((s, dir) =>
      graft.util.DomainMix
        .sample(tbl(s, dir, "documents"), "lang", "doc_id", MixRates, MixDefault)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // curation tier: α=1/2 temperature mixture — data-dependent per-domain
    // keep rates (rare domains keep more of themselves), thresholds
    // bitwise re-derivable because every op in the rate formula is
    // correctly rounded (sqrt, never pow) and the normalizer folds in
    // sorted-domain order
    "q_domain_mix_temp" -> ((s, dir) =>
      graft.util.DomainMix
        .temperatureSample(tbl(s, dir, "documents"), "lang", "doc_id", MixTempFrac)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // curation flagship v2: the multi-signal pass a pretraining corpus
    // actually runs — scan-speed gates (quality keep + repetition) feed
    // the LM scorer, whose corpus-RELATIVE p90 band is computed once (one
    // double to the driver) and inlined as a literal. The gates are
    // elementwise, so repeating them under the scorer's two scans costs
    // filter-at-scan-speed, never an extra shuffle or materialization.
    // The scored frame is locally checkpointed (the Collocations
    // counts-literal pattern) because TWO consumers read it — the p90
    // selection and the returned band filter; without the checkpoint the
    // final scan would recompute the whole tokenize+broadcast-join scoring
    // pass, one avoidable corpus-scale traversal of the most expensive
    // stage. The p90 itself is percentile_disc by DISTRIBUTED SORT
    // SELECTION (ExactQuantile) — bits_per_token is a continuous double,
    // and Spark's exact Percentile aggregate would funnel a value→count
    // map of near-corpus cardinality into one task's buffer at 100×
    // scale; the sort selection's driver traffic is numPartitions longs
    // plus the one selected value, and the answer stays exact.
    "q_curation_pipeline" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val quality = TextAnalysis.qualityMetrics(col("text")).toMap
      val rep = graft.text.Repetition.repetitionMetrics(col("text")).toMap
      val gated = docs.filter(
        quality("keep") && rep("dup_word_frac") <= lit(CurationDupFracMax))
      val scored = graft.text.LanguageModel
        .unigramCrossEntropy(gated, "text", "doc_id")
        .localCheckpoint(true)
      val p90 = graft.util.ExactQuantile.quantileDisc(scored, "bits_per_token", 0.9)
      scored
        .filter(col("bits_per_token") <= lit(p90))
        .select(col("doc_id"), col("n_tokens"), col("bits_per_token"))
        .orderBy("doc_id")
    }),

    // curation telemetry: the one-row corpus profile (2 scans: elementwise
    // scalars + the one token-level distinct; five scalars to the driver)
    "q_corpus_profile" -> ((s, dir) =>
      graft.text.CorpusProfile
        .profile(tbl(s, dir, "documents"), "text", langCol = Some("lang"))
        .withColumn("avg_doc_len", round(col("avg_doc_len"), 6))),

    // curation telemetry: vocabulary health (Zipf) report — hapax
    // fraction + head coverage over one checkpointed counts pass
    "q_vocab_report" -> ((s, dir) =>
      graft.text.CorpusProfile
        .vocabReport(tbl(s, dir, "documents"), "text", topK = 100)),

    // cleaning tier: C4-style scrub. The corpus itself is clean, so the
    // query injects deterministic URL/e-mail literals into each document
    // (both sides of the oracle build the same dirty string) — the
    // redaction genuinely fires on every row and the untouched corpus
    // prefix pins zero false positives.
    "q_scrub" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .withColumn(
          "dirty",
          concat(col("text"), lit(" ping bob.smith+x@mail.example.co or " +
            "https://spark.apache.org/docs?q=a@b.c or www.data.net/x end")))
        .select(col("doc_id"), graft.text.Scrub.scrub(col("dirty")).as("scrubbed"))
        .orderBy("doc_id")),

    // embedding storage tier: symmetric per-vector int8 quantization —
    // the 4x-smaller serving layout; every arithmetic step identically
    // defined in both engines, so codes and scales are exactly
    // re-derivable (scan-speed, zero shuffle)
    "q_quantize_int8" -> ((s, dir) =>
      graft.embed.VectorQuant
        .quantizeInt8(tbl(s, dir, "embeddings"), "embedding", "vec_id")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          posexplode(col("qvec")).as(Seq("dim", "q")))
        .select(col("vec_id"), col("scale"), col("dim").cast("long").as("dim"), col("q"))
        .orderBy("vec_id", "dim")),

    // embedding analytics: per-label centroids via the typed Aggregator —
    // ONE hash aggregate with map-side partial (sums, count) buffers; the
    // vectors themselves never shuffle (vs posexplode's rows×dims records)
    "q_embed_centroids" -> ((s, dir) =>
      graft.embed.VectorAgg
        .centroids(tbl(s, dir, "embeddings"), "embedding", "label")
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "c")))
        .select(
          col("label"),
          col("dim").cast("long").as("dim"),
          round(col("c"), 6).as("c"))
        .orderBy("label", "dim")),

    // search tier: BM25 lexical retrieval over the corpus — one tokenize,
    // one (doc, term) aggregation (dl rides the key), constants as
    // literals, posting-list-sized term frame, bounded TakeOrdered top-k.
    // roundTo = 6 rounds INSIDE the engine before the limit(k) cut, so the
    // cut line and the doc_id tie-break bind to the same rounded scores
    // the oracle's ORDER BY sees — sub-rounding ulp noise cannot flip
    // which of two round-equal docs survives rank 20.
    "q_bm25_search" -> ((s, dir) =>
      graft.similarity.Bm25
        .search(tbl(s, dir, "documents"), "text", "doc_id",
          Seq("spark", "join", "window"), k = 20, roundTo = 6)
        .orderBy(col("score").desc, col("doc_id").asc)),

    // ...and the same query SERVED from the persisted inverted index
    // (graft.similarity.Bm25IndexStore): the query reads ≤|terms| of the
    // index's posting buckets via STATIC partition pruning + a pushed
    // token IN filter; N/avgdl from the one-row stats artifact; scores
    // bit-identical to the in-session operator (spec-pinned), so the
    // oracle is shared
    "q_bm25_served" -> ((s, dir) =>
      graft.similarity.Bm25IndexStore
        .serveBm25TopK(s, bm25IndexDirFor(s, dir),
          Seq("spark", "join", "window"), k = 20, roundTo = 6)
        .orderBy(col("score").desc, col("doc_id").asc)),

    // ...and a BATCH of queries served in ONE join-shaped plan — the
    // production QPS shape: the batch's bucket set prunes the postings
    // read statically (≤ n_buckets literals however large the batch),
    // the term set broadcast-joins in, df(t)/idf are paid once for the
    // whole batch, and per-query top-k is a row_number window. Postings
    // are scanned a CONSTANT number of times independent of |queries|
    // (spec-pinned), and every query's rows are bitwise what the
    // per-call serve returns for it — which is what the oracle computes
    // per query from the same queries CTE
    "q_bm25_served_batch" -> ((s, dir) => {
      import s.implicits._
      val batch = Seq(
        (1L, Seq("spark", "join", "window")),
        (2L, Seq("scan", "filter")),
        (3L, Seq("sort", "merge", "hash", "batch")),
        // df=0 term + duplicate term: the per-call contract edges
        (4L, Seq("vector", "zzz_not_a_token", "vector", "stream"))
      ).toDF("query_id", "terms")
      graft.similarity.Bm25IndexStore
        .serveBm25TopKBatch(batch, bm25IndexDirFor(s, dir), k = 10, roundTo = 6)
        .orderBy(col("query_id"), col("score").desc, col("doc_id").asc)
    }),

    // the same batch through the exact MaxScore front end (round 18):
    // pruneDf = 390 splits this corpus's df~385-402 vocabulary across
    // the threshold, so some queries route through the pruned
    // candidate path and the rest through the proof's fallback — and
    // the RESULT is bitwise the unpruned serve either way, which is
    // exactly what sharing the unpruned oracle checks
    "q_bm25_served_batch_pruned" -> ((s, dir) => {
      import s.implicits._
      val batch = Seq(
        (1L, Seq("spark", "join", "window")),
        (2L, Seq("scan", "filter")),
        (3L, Seq("sort", "merge", "hash", "batch")),
        (4L, Seq("vector", "zzz_not_a_token", "vector", "stream"))
      ).toDF("query_id", "terms")
      graft.similarity.Bm25IndexStore
        .serveBm25TopKBatch(batch, bm25IndexDirFor(s, dir), k = 10, roundTo = 6,
          pruneDf = 390L)
        .orderBy(col("query_id"), col("score").desc, col("doc_id").asc)
    }),

    // ...and the QUERY LOG as a stream: the same batch served across
    // two checkpointed micro-batches against the static index, results
    // landing exactly-once in batch-scoped dirs — the streamed union
    // must be bitwise the one-shot batch serve, so it SHARES the batch
    // oracle (per-query results are batch-split-invariant by the
    // per-call parity contract)
    "q_stream_bm25_serve" -> ((s, dir) =>
      s.read.option("recursiveFileLookup", "true")
        .parquet(bm25StreamServeDirFor(s, dir))
        .orderBy(col("query_id"), col("score").desc, col("doc_id").asc)),

    // ...and the batch path under a takedown (%9==4 tombstoned): batch
    // df(t)/stats ride the same net-of-tombstones machinery as the
    // per-call serve, so batch-served results equal an index rebuilt
    // without the deleted docs — the batch oracle with the rebuilt-
    // without docFilter
    "q_bm25_served_batch_delete" -> ((s, dir) => {
      import s.implicits._
      val batch = Seq(
        (1L, Seq("spark", "join", "window")),
        (2L, Seq("scan", "filter")),
        (3L, Seq("sort", "merge", "hash", "batch")),
        (4L, Seq("vector", "zzz_not_a_token", "vector", "stream"))
      ).toDF("query_id", "terms")
      graft.similarity.Bm25IndexStore
        .serveBm25TopKBatch(batch, bm25DeletedIndexDirFor(s, dir), k = 10, roundTo = 6)
        .orderBy(col("query_id"), col("score").desc, col("doc_id").asc)
    }),

    // ...with a takedown applied: %9==4 tombstoned. Exclusion lands
    // BEFORE df(t) is counted and N/avgdl recompute from doclens net of
    // tombstones, so served results equal an index rebuilt without the
    // deleted docs — which is exactly what the oracle computes
    "q_bm25_served_delete" -> ((s, dir) =>
      graft.similarity.Bm25IndexStore
        .serveBm25TopK(s, bm25DeletedIndexDirFor(s, dir),
          Seq("spark", "join", "window"), k = 20, roundTo = 6)
        .orderBy(col("score").desc, col("doc_id").asc)),

    // ...and the STREAMING-INGESTED index: even half batch-built, odd
    // half drained file-per-micro-batch through the checkpointed
    // exactly-once sink into batch-scoped delta dirs. Index contents
    // equal the one-shot full build — so serving this index under the
    // one-shot oracle IS the exactly-once claim under the DuckDB gate
    "q_stream_bm25_ingest" -> ((s, dir) =>
      graft.similarity.Bm25IndexStore
        .serveBm25TopK(s, bm25StreamIndexDirFor(s, dir),
          Seq("spark", "join", "window"), k = 20, roundTo = 6)
        .orderBy(col("score").desc, col("doc_id").asc)),

    // ...and the REPLACE lifecycle on the lexical store: %17==3 docs
    // re-delivered with changed text through the documented contract
    // (delete → compact → append). Serving — with "refreshed", a term
    // that only exists in the replacement text — must equal an index
    // built directly over the replaced corpus: df, dl, avgdl, N and the
    // ranking all reflect the new text and none of the old (a stale
    // posting, doclen or stats row fails the hash)
    "q_bm25_replaced" -> ((s, dir) =>
      graft.similarity.Bm25IndexStore
        .serveBm25TopK(s, bm25ReplacedIndexDirFor(s, dir),
          Seq("spark", "refreshed"), k = 20, roundTo = 6)
        .orderBy(col("score").desc, col("doc_id").asc)),

    // bm25-index bookkeeping on the takedown index: physical doc count
    // (takedown debt still on disk), tombstones, posting-list totals and
    // the bucket distribution (max bucket = the hot-shard signal). The
    // oracle re-derives the posting rows AND the fnv bucket routing in
    // SQL — the bookkeeping is exact, like the other two stores'
    "q_bm25_index_stats" -> ((s, dir) =>
      graft.similarity.Bm25IndexStore
        .describeBm25Index(s, bm25DeletedIndexDirFor(s, dir))),

    // retrieval tier: hybrid lexical+semantic reciprocal-rank fusion
    // (Cormack 2009) — BM25 list ⊕ fixture-embedding cosine list, both
    // poolK-cut before the bounded fusion join. The fixture model makes
    // the SEMANTIC side fully oracle-checkable: DuckDB re-derives every
    // document vector AND the query vector from the literal query string,
    // so both rank lists and the fused scores are independently recomputed
    "q_hybrid_rrf" -> ((s, dir) => {
      embedFixtureRegistered
      graft.similarity.HybridSearch.rrf(
        tbl(s, dir, "documents"), "text", "doc_id",
        Seq("spark", "join", "window"), "spark join window",
        EmbedFixtureModelId, k = 20, poolK = 50)
    }),

    // ...and the SAME retrieval front end served entirely from
    // PERSISTED artifacts — the production shape: the lexical list from
    // the BM25 inverted index (static bucket pruning), the semantic
    // list from the document IVFADC index (dynamic cell pruning, ADC
    // over stored codes — the ANN answer, approximate BY DESIGN), fused
    // with the identical RRF contract. The oracle re-derives BOTH
    // serving paths from exported literals: the BM25 chain and the full
    // IVF cell-route + residual-code + ADC replay over the
    // SQL-replayable fixture embedding, query vector included
    "q_hybrid_served" -> ((s, dir) => {
      embedFixtureRegistered
      graft.similarity.HybridSearch.rrfServed(
        s, bm25IndexDirFor(s, dir), docAnnIndexDirFor(s, dir),
        Seq("spark", "join", "window"), "spark join window",
        EmbedFixtureModelId, k = 20, poolK = 20, nProbe = 3)
    }),

    // ...and a BATCH of hybrid queries served in a CONSTANT number of
    // plans — the last per-query serving front end batch-amortized: ONE
    // batched BM25 plan (postings scanned twice total, static bucket
    // pruning) + ONE batched ANN plan (one codes read, dynamic cell
    // pruning over the probe union) + one window-shaped fusion. Query 1
    // is exactly q_hybrid_served's query; every query's rows are
    // bitwise what per-call rrfServed returns for it (spec-pinned) —
    // which is what the oracle re-derives per query from the shared
    // queries CTE and the batch's negative-id query vectors
    "q_hybrid_served_batch" -> ((s, dir) => {
      embedFixtureRegistered
      import s.implicits._
      val batch = Seq(
        (1L, Seq("spark", "join", "window"), "spark join window"),
        (2L, Seq("scan", "filter"), "scan filter pushdown"),
        (3L, Seq("sort", "merge", "hash"), "hash merge sort")
      ).toDF("query_id", "terms", "text")
      graft.similarity.HybridSearch.rrfServedBatch(
        batch, bm25IndexDirFor(s, dir), docAnnIndexDirFor(s, dir),
        EmbedFixtureModelId, k = 20, poolK = 20, nProbe = 3)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id").asc)
    }),

    // ...the same batch under a TAKEDOWN hitting BOTH serving tiers
    // (doc_id%9==4 tombstoned out of the BM25 index AND the document
    // ANN index — production removals hit every index a doc lives in):
    // lexical df/stats ride net-of-tombstones, semantic candidates
    // anti-join the ANN tombstones before ranking, and fused results
    // must equal the two stores rebuilt without the deleted docs —
    // which is what the oracle computes
    "q_hybrid_served_batch_delete" -> ((s, dir) => {
      embedFixtureRegistered
      import s.implicits._
      val batch = Seq(
        (1L, Seq("spark", "join", "window"), "spark join window"),
        (2L, Seq("scan", "filter"), "scan filter pushdown"),
        (3L, Seq("sort", "merge", "hash"), "hash merge sort")
      ).toDF("query_id", "terms", "text")
      graft.similarity.HybridSearch.rrfServedBatch(
        batch, bm25DeletedIndexDirFor(s, dir), docAnnDeletedIndexDirFor(s, dir),
        EmbedFixtureModelId, k = 20, poolK = 20, nProbe = 3)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id").asc)
    }),

    // ...and the REPLACE lifecycle composed with the hybrid stack:
    // both stores cycled through delete → compact → append with the
    // %17==3 docs' refreshed text (bm25ReplacedIndexDirFor /
    // docAnnReplacedIndexDirFor — the same fixtures the per-store
    // replace queries gate), and the batched hybrid serve over the
    // pair must equal stores built directly over the replaced corpus:
    // a stale token, doclen, stat, or code in EITHER tier flips a
    // rank and fails the hash
    "q_hybrid_replaced" -> ((s, dir) => {
      embedFixtureRegistered
      import s.implicits._
      val batch = Seq(
        (1L, Seq("spark", "join", "window"), "spark join window"),
        (2L, Seq("scan", "filter"), "scan filter pushdown"),
        (3L, Seq("sort", "merge", "hash"), "hash merge sort")
      ).toDF("query_id", "terms", "text")
      graft.similarity.HybridSearch.rrfServedBatch(
        batch, bm25ReplacedIndexDirFor(s, dir), docAnnReplacedIndexDirFor(s, dir),
        EmbedFixtureModelId, k = 20, poolK = 20, nProbe = 3)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id").asc)
    }),

    // ...and the QUERY LOG as a stream: the same batch drained across
    // two checkpointed micro-batches, each served through ONE
    // rrfServedBatch plan against the static persisted pair, landing
    // exactly-once in batch-scoped dirs — the streamed union shares
    // the one-shot batch oracle (per-query results are
    // batch-split-invariant by the per-call parity contract)
    "q_stream_hybrid_serve" -> ((s, dir) =>
      s.read.option("recursiveFileLookup", "true")
        .parquet(hybridStreamServeDirFor(s, dir))
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id").asc)),

    // quality tier: Gopher/C4-style repetition metrics — pure Column
    // program, one tokenize, zero shuffle (scan-speed curation signal)
    "q_repetition" -> ((s, dir) => {
      val rounded = graft.text.Repetition.repetitionMetrics(col("text")).map {
        case (n @ ("dup_word_frac" | "top_word_frac" | "dup_bigram_frac"), c) =>
          round(c, 6).as(n)
        case (n, c) => c.as(n)
      }
      tbl(s, dir, "documents")
        .select(col("doc_id") +: rounded: _*)
        .orderBy("doc_id")
    }),

    // text-analysis tier: rolling-hash fingerprint over normalized text
    "q_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // multimodal tier: binary payload + typed metadata through the
    // batched mapPartitions decode — the deterministic stub decoder
    // derives every field from an FNV-1a of the payload bytes, so the
    // DuckDB oracle recomputes the full decode (UTF-8 payloads of an
    // ASCII corpus make bytes == code points); the Spark-side plumbing
    // (schema, batching, null handling) is what's under test
    "q_media_meta" -> ((s, dir) => {
      val media = tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          concat(lit("media/"), col("source")).as("mime"))
      graft.multimodal.Multimodal
        .extractMetadata(media, "payload", "mime")
        .select(
          col("doc_id"),
          col("media_meta.mime").as("mime"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_frames").as("n_frames"),
          col("media_meta.duration_ms").as("duration_ms"))
        .orderBy("doc_id")
    }),

    // multimodal tier: REAL image decode (javax.imageio — no stub). The
    // query PNG-encodes synthetic test cards at known dimensions, then
    // re-derives width/height by actually parsing the PNG headers through
    // the batched decode path, resizes through a real bilinear
    // scale + PNG re-encode, and decodes AGAIN to prove the round trip;
    // an intentionally corrupt payload exercises the explicit (-1,-1)
    // undecodable marker. The oracle lists the expected dims as literals
    // (config shared, decode real).
    "q_media_image_meta" -> ((s, dir) => {
      import s.implicits._
      val dec = new graft.multimodal.ImageIoDecoder()
      val rows = ImageFixtureDims.map { case (id, w, h) =>
        (id, graft.multimodal.ImageIoDecoder.testCardPng(w, h), "image/png")
      } :+ ((99L, "not an image".getBytes("UTF-8"), "image/png"))
      val df = rows.toDF("img_id", "payload", "mime").repartition(2)
      val meta = graft.multimodal.Multimodal
        .extractMetadata(df, "payload", "mime", decoder = dec)
      val resized = graft.multimodal.Multimodal
        .resizeMedia(meta, "payload", "mime", ImageResizeW, ImageResizeH, decoder = dec)
        .drop("payload").withColumnRenamed("resized", "payload")
      graft.multimodal.Multimodal
        .extractMetadata(resized, "payload", "mime", outCol = "rs_meta", decoder = dec)
        .select(
          col("img_id"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_frames").as("n_frames"),
          col("rs_meta.width").as("rs_width"),
          col("rs_meta.height").as("rs_height"))
        .orderBy("img_id")
    }),

    // multimodal tier: REAL audio decode (javax.sound.sampled — no
    // stub; video is now the only stubbed modality). The query
    // WAV-encodes deterministic square-wave clips at known shapes, then
    // re-derives rate/channels/frames/duration by actually parsing the
    // WAV headers+PCM through the batched decode path; `features`
    // computes real windowed RMS over the PCM (±0.5 samples → RMS
    // exactly 0.5, no float tolerance needed); sampleFrames re-encodes
    // 2 standalone-WAV segments per clip which are decoded AGAIN to
    // prove the segmentation round trip; a corrupt payload exercises
    // the (-1,-1) undecodable marker. Oracle: literals from the shared
    // fixture constants (config shared, decode real)
    "q_media_audio_meta" -> ((s, dir) => {
      import s.implicits._
      val dec = new graft.multimodal.WavAudioDecoder()
      val rows = AudioFixtureClips.map { case (id, rate, ch, frames) =>
        (id, graft.multimodal.WavAudioDecoder.testToneWav(rate, ch, frames), "audio/wav")
      } :+ ((99L, "not audio".getBytes("UTF-8"), "audio/wav"))
      val base = rows.toDF("clip_id", "payload", "mime").repartition(2)
      // the clip itself, plus its re-encoded segments, through ONE
      // decode+features pipeline ("full" | "seg0" | "seg1"; the corrupt
      // clip yields no segments by the no-frames contract)
      val segs = graft.multimodal.Multimodal
        .sampleFrames(base, "payload", "mime", maxFrames = AudioSegments, decoder = dec)
        .select(col("clip_id"),
          concat(lit("seg"), col("frame_idx")).as("part"),
          col("frame").as("payload"), col("mime"))
      val all = base
        .select(col("clip_id"), lit("full").as("part"), col("payload"), col("mime"))
        .unionByName(segs)
      val meta = graft.multimodal.Multimodal
        .extractMetadata(all, "payload", "mime", decoder = dec)
      graft.multimodal.Multimodal
        .mediaFeatures(meta, "payload", "mime", dim = 4, decoder = dec)
        .select(
          col("clip_id"),
          col("part"),
          col("media_meta.width").as("sample_rate"),
          col("media_meta.height").as("channels"),
          col("media_meta.n_frames").as("n_frames"),
          col("media_meta.duration_ms").as("duration_ms"),
          round(element_at(col("media_features"), 1).cast("double"), 6).as("rms"))
        .orderBy("clip_id", "part")
    }),

    // multimodal tier: REAL video decode for the one pure-JDK container
    // (multi-frame GIF; the stub is now CODEC video only). The query
    // encodes animated clips at known (w, h, frames, delay) shapes, then
    // re-derives frame count and summed-delay duration by actually
    // reading the GIF sequence; sampleFrames re-encodes evenly-spaced
    // REAL frames as standalone GIFs which are decoded AGAIN (n_frames=1,
    // zero duration) to prove the frame-sampling round trip; a corrupt
    // payload exercises the (-1,-1) marker. Oracle: literals from the
    // shared fixture constants (config shared, decode real)
    "q_media_video_meta" -> ((s, dir) => {
      import s.implicits._
      val dec = new graft.multimodal.GifVideoDecoder()
      val rows = VideoFixtureClips.map { case (id, w, h, n, delayCs) =>
        (id, graft.multimodal.GifVideoDecoder.testAnimGif(w, h, n, delayCs), "video/gif")
      } :+ ((99L, "not a gif".getBytes("UTF-8"), "video/gif"))
      val base = rows.toDF("vid_id", "payload", "mime").repartition(2)
      val segs = graft.multimodal.Multimodal
        .sampleFrames(base, "payload", "mime", maxFrames = VideoSampleFrames, decoder = dec)
        .select(col("vid_id"),
          concat(lit("frame"), col("frame_idx")).as("part"),
          col("frame").as("payload"), col("mime"))
      val all = base
        .select(col("vid_id"), lit("full").as("part"), col("payload"), col("mime"))
        .unionByName(segs)
      graft.multimodal.Multimodal
        .extractMetadata(all, "payload", "mime", decoder = dec)
        .select(
          col("vid_id"),
          col("part"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_frames").as("n_frames"),
          col("media_meta.duration_ms").as("duration_ms"))
        .orderBy("vid_id", "part")
    }),

    // multimodal tier: feature extraction — the stub's per-dimension
    // splitmix values are recomputed in SQL (wrap-around multiplies as
    // HUGEINT mod 2^64, unsigned shifts as division, xor on the signed
    // bit pattern), so even the pseudo-embedding is oracle-checked; the
    // first 4 of 64 dims keep the SQL bounded
    "q_media_features" -> ((s, dir) => {
      val media = tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          concat(lit("media/"), col("source")).as("mime"))
      graft.multimodal.Multimodal
        .mediaFeatures(media, "payload", "mime", dim = 64)
        .select(col("doc_id"), posexplode(slice(col("media_features"), 1, 4)).as(Seq("d", "val")))
        .select(
          col("doc_id"),
          col("d").cast("long").as("d"),
          round(col("val").cast("double"), 6).as("val"))
        .orderBy("doc_id", "d")
    }),

    // multimodal tier: resize — the stub re-encode keeps a prefix scaled
    // by the pixel ratio, so output sizes are SQL-recomputable from the
    // same FNV-derived source dimensions as q_media_meta
    "q_media_resize" -> ((s, dir) => {
      val media = tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          concat(lit("media/"), col("source")).as("mime"))
      graft.multimodal.Multimodal
        .resizeMedia(media, "payload", "mime", width = 256, height = 256)
        .select(
          col("doc_id"),
          length(col("payload")).cast("long").as("orig_bytes"),
          length(col("resized")).cast("long").as("resized_bytes"))
        .orderBy("doc_id")
    }),

    // multimodal tier: frame sampling — the stub slices the payload into
    // even byte ranges, so frame counts and sizes are SQL-recomputable
    // while the explode/partitioning plumbing is what's under test
    "q_media_frames" -> ((s, dir) => {
      val media = tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          lit("media/frames").as("mime"))
      graft.multimodal.Multimodal
        .sampleFrames(media, "payload", "mime", maxFrames = 8)
        .select(
          col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame")).cast("long").as("frame_bytes"))
        .orderBy("doc_id", "frame_idx")
    }),

    // §2.6 full topic-modeling pipeline (pseudo-embedder + PCA/DBSCAN
    // stand-ins; stochastic-stage parity is structural → rows-only check)
    "q_topic_model" -> ((s, dir) => {
      val out = topicRun(s, dir)
      out.documents
        .select(
          col("doc_id"),
          col("dominant_topic"),
          size(col("topic_distribution")).as("n_dist"),
          col("n_topics"),
          col("n_chunks"))
        .orderBy("doc_id")
    }),

    // §2.6 #21 topic coords, under the DATA-DEPENDENT oracle: the seeded
    // reduce/cluster stages are deterministic, so the per-chunk
    // (label, x, y) export is shared config (the trainedCentroids
    // pattern) and the distributed centroid aggregation — the Coords
    // operator itself — is what DuckDB independently re-derives
    "q_topic_coords" -> ((s, dir) => {
      import s.implicits._
      val pts = topicRun(s, dir).chunkPoints
        .toDF("doc_id", "chunk_idx", "label", "x", "y")
      graft.topic.Coords.topicCoords(pts)
        .select(col("label"), round(col("x"), 6).as("x"), round(col("y"), 6).as("y"))
        .orderBy("label")
    }),

    // §2.6 #22 per-document assembly, same data-dependent oracle: from
    // the exported chunk points alone DuckDB re-derives the rollup
    // (proportions + dominant topic), the dominant topic's coords, and
    // the n_topics/n_chunks constants — the whole distributed assembly
    // join re-checked relationally
    "q_topic_assembly" -> ((s, dir) => {
      val out = topicRun(s, dir)
      out.documents
        .select(
          col("doc_id"),
          col("dominant_topic"),
          explode_outer(col("topic_distribution")).as("td"),
          col("x"),
          col("y"),
          col("n_topics"),
          col("n_chunks"))
        .select(
          col("doc_id"),
          col("dominant_topic"),
          col("td.topic_id").as("topic_id"),
          round(col("td.proportion"), 6).as("proportion"),
          round(col("x").cast("double"), 6).as("x"),
          round(col("y").cast("double"), 6).as("y"),
          col("n_topics"),
          col("n_chunks"))
        .orderBy("doc_id", "topic_id")
    }),

    // the stage_timings_ms instrumentation contract (BASELINE.md's
    // per-stage table) as a checkable relation: the stage SET and ORDER
    // are deterministic, elapsed values are not — so the row carries
    // (idx, stage, ok) with ok = elapsed ≥ 0 per stage plus the
    // total-covers-parts inequality (timed stages are disjoint spans
    // inside the total span, so sum(parts) ≤ total up to scheduler
    // gaps). Oracle: the expected (idx, stage, true) literals from the
    // shared TopicStageNames constant
    "q_topic_stage_timings" -> ((s, dir) => {
      import s.implicits._
      val t = topicRun(s, dir).stageTimings
      val total = t.collectFirst { case ("total", e) => e }.getOrElse(-1.0)
      val parts = t.collect { case (n, e) if n != "total" => e }
      val rows = t.zipWithIndex.map { case ((stage, e), i) => (i.toLong, stage, e >= 0.0) } :+
        ((t.length.toLong, "_total_covers_parts", total >= parts.sum))
      rows.toDF("idx", "stage", "ok").orderBy("idx")
    }),

    // §2.6 #17/#18 the DEFAULT topic pipeline — PaCMAP reduction +
    // condensed-tree HDBSCAN (no pinned eps), i.e. the out-of-the-box
    // reference configuration — under the same data-dependent oracle: the
    // seeded reduce/cluster stages export per-chunk (label, x, y), and
    // the distributed per-topic aggregation (sizes + Coords centroids,
    // noise row included with null coords) is what DuckDB re-derives.
    // Upgrades HDBSCAN+PaCMAP coverage from spec-only to oracle-checked.
    "q_topic_hdbscan" -> ((s, dir) => {
      import s.implicits._
      val pts = topicRunHdbscan(s, dir).chunkPoints
        .toDF("doc_id", "chunk_idx", "label", "x", "y")
      val sizes = pts
        .groupBy(col("label"))
        .agg(
          count(lit(1)).cast("long").as("n_chunks"),
          countDistinct(col("doc_id")).cast("long").as("n_docs"))
      val coords = graft.topic.Coords.topicCoords(pts)
        .select(col("label"), round(col("x"), 6).as("x"), round(col("y"), 6).as("y"))
      sizes
        .join(coords, Seq("label"), "left")
        .select(col("label"), col("n_chunks"), col("n_docs"), col("x"), col("y"))
        .orderBy("label")
    }),

    // §2.5 #13 embedding via the mapPartitions batch engine over the FULL
    // documents table — unlike q_embed_fixture (which pre-projects to two
    // columns), this row pins the schema-APPEND contract: every input
    // column survives the engine and rides alongside the vector. The
    // integer-exact fixture model makes dim and norm re-derivable by
    // DuckDB (digits ≤ 96 ⇒ the sum of squares is an exact integer in
    // double, order-independent), upgrading this row from rows-only to
    // the full hash oracle.
    "q_embed_docs" -> ((s, dir) => {
      embedFixtureRegistered
      val embedded = graft.embed.Embedders
        .embed(tbl(s, dir, "documents"), "text", "emb", modelId = EmbedFixtureModelId)
      embedded
        .select(
          col("doc_id"),
          col("lang"),
          col("source"),
          size(col("emb")).cast("long").as("emb_dim"),
          round(
            sqrt(aggregate(transform(col("emb"), x => x.cast("double")),
              lit(0.0), (acc, v) => acc + v * v)), 4).as("emb_norm"))
        .orderBy("doc_id")
    }),

    // the UNGATED real-forward-pass tier: the MiniLM-shape pure-JVM
    // encoder (deterministic random-init weights — the seed is the
    // fixture) through the same batch-32 mapPartitions engine. Vector
    // VALUES are weight-dependent and not SQL-recomputable, so the
    // oracle pins the lifecycle contract instead: every row embeds, at
    // the declared dim, to an L2-unit vector — plus TransformerModelSpec
    // for the batch-independence/attention/truncation pins
    "q_embed_transformer" -> ((s, dir) => {
      // null/blank guard mirrored in the oracle: those rows embed to
      // the empty row / zero vector by the null contract (spec-pinned),
      // which the unconditional (dim, norm=1) literals don't model.
      // CLOSED-VOCAB ASSUMPTION: norm=1 additionally requires ≥1 word
      // of each doc to decompose under the 37-piece fixture vocab — a
      // non-blank doc whose words are ALL OOV tokenizes to zero pieces
      // and embeds to the zero vector (norm 0). That condition is not
      // DuckDB-expressible, so it is pinned as an assumption instead:
      // the sf* corpora are ASCII English whose every doc contains at
      // least one covered word ("the"/"a" are in the vocab). A
      // regenerated corpus violating it fails this oracle loudly
      // (norm 0 vs 1.0 hash mismatch), not silently.
      graft.embed.Embedders
        .embed(tbl(s, dir, "documents")
            .filter(col("doc_id") < 50 && length(trim(coalesce(col("text"), lit("")))) > 0),
          "text", "emb", modelId = graft.embed.TransformerModel.FixtureModelId)
        .select(
          col("doc_id"),
          size(col("emb")).cast("long").as("emb_dim"),
          round(
            sqrt(aggregate(transform(col("emb"), x => x.cast("double")),
              lit(0.0), (acc, v) => acc + v * v)), 4).as("emb_norm"))
        .orderBy("doc_id")
    }),

    // §2.5 #13 nested variant (reference `src/expressions.rs:690-752`:
    // `List(String) → List(embedding)` — flatten, embed, regroup). The doc
    // is split into segments; each segment embeds independently and the
    // per-segment norms surface one row per (doc, segment). The fixture
    // model makes the flatten/regroup contract itself oracle-checkable:
    // DuckDB re-derives each SEGMENT's vector, so a regroup bug (vectors
    // landing on the wrong segment index) is a hash mismatch, not just an
    // EmbedderSpec failure.
    "q_embed_nested" -> ((s, dir) => {
      embedFixtureRegistered
      tbl(s, dir, "documents")
        .withColumn(
          "segs",
          filter(split(col("text"), " the "), x => x =!= ""))
        .withColumn("embs",
          graft.embed.Embedders.embeddingList(col("segs"), EmbedFixtureModelId))
        .select(col("doc_id"), posexplode(col("embs")).as(Seq("seg_idx", "emb")))
        .select(
          col("doc_id"),
          col("seg_idx").cast("long").as("seg_idx"),
          size(col("emb")).cast("long").as("emb_dim"),
          round(
            sqrt(aggregate(transform(col("emb"), x => x.cast("double")),
              lit(0.0), (acc, v) => acc + v * v)), 4).as("emb_norm"))
        .orderBy("doc_id", "seg_idx")
    }),

    // §2.3 #10 concordance in regex mode: same KWIC contract, pattern taken
    // as a raw regex with caseSensitive=true — pins the `regex`/
    // `case_sensitive` kwargs surface (reference
    // `polars_text/functions.py:74-96`). `s[ct][a-z]{2}` hits three
    // distinct match texts on this corpus ("scan", "stre" in "stream",
    // "stom" in "customer"), including mid-word matches whose partial-word
    // context tokens exercise the tokenize-the-remainder semantics.
    "q_concordance_regex" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          explode(Concordance.concordanceCol(
            col("text"), "s[ct][a-z]{2}", 5, 5, regex = true, caseSensitive = true)).as("c"))
        .select(col("doc_id"), col("c.*"))
        .orderBy("doc_id", "start_idx")),

    // BPE subword-vocabulary learning (Sennrich 2016) over the corpus —
    // the tokenizer-TRAINING stage of the LLM-pipeline tier (the
    // reference ships only pre-trained backends). One corpus scan builds
    // the (word, cnt) table; each training round is one distributed
    // pair-count job applying a provably-exact batch of merges
    // (Bpe.safePrefix). The memo shares the trained model between the two
    // surfaces the way a real pipeline would (train once, inspect both).
    "q_bpe_merges" -> ((s, dir) => {
      val (m, _) = Bpe.trainedFor(s, dir, tbl(s, dir, "documents"), "text", BpeNumMerges)
      Bpe.mergesDf(s, m).orderBy("rank")
    }),

    "q_bpe_vocab" -> ((s, dir) => {
      val (_, w) = Bpe.trainedFor(s, dir, tbl(s, dir, "documents"), "text", BpeNumMerges)
      Bpe.vocabulary(w).orderBy("token")
    }),

    // the trained vocabulary APPLIED: every document re-tokenized into its
    // learned subword sequence (join on the compact vocab table, word
    // order restored by position) — the pipeline's produce-training-data
    // step, closing the train → inspect → encode loop
    "q_bpe_encode" -> ((s, dir) => {
      val (_, w) = Bpe.trainedFor(s, dir, tbl(s, dir, "documents"), "text", BpeNumMerges)
      Bpe.encode(tbl(s, dir, "documents"), "doc_id", "text", w).orderBy("doc_id")
    }))

  /** The `native:plain_words_en` token ARRAY of `textExpr` as one DuckDB
    * list expression — including the tokenizer's UNCONDITIONAL
    * special-token drop (`Tokenizers.scala:100`). Every oracle that
    * re-derives tokens must compose this fragment instead of re-typing
    * the split+filter: a hand-retyped variant that forgets the
    * CLS/SEP/PAD/UNK/MASK drop stays green only while the corpus happens
    * to contain none of those words, then silently drifts from the engine
    * on a corpus refresh. */
  private def toksArrSql(textExpr: String = "text"): String =
    s"list_filter(regexp_split_to_array(lower(coalesce($textExpr,'')), '[\\s!-/:-@\\[-`{-~]+'), " +
      "s -> s <> '' AND upper(s) NOT IN ('CLS','SEP','PAD','UNK','MASK'))"

  /** The BPE training replay as an unrolled DuckDB CTE chain — one
    * (pair-count → argmax → replace) stage per merge. The padded
    * double-space symbol string makes `replace` the exact greedy
    * left-to-right merge walk AND keeps the canonical form without
    * re-normalization (`Bpe.canon`; pinned by `BpeSpec`), so each stage is
    * three short CTEs. `v0` splits each corpus word into code points
    * (`string_split(word, '')` is code-point-aware, like Spark's
    * `split(word, "")`); the argmax total order (count DESC, lhs ASC,
    * rhs ASC) is binary string order in both engines. Assumes the corpus
    * supports all [[BpeNumMerges]] merges (sf corpora allow ~89): an
    * exhausted stage would yield an empty cross join — a visible row-count
    * mismatch, never a silent pass. */
  private def bpeCtesSql: String = {
    // every v/m CTE is referenced twice downstream — MATERIALIZED stops
    // DuckDB's default inlining from re-expanding the chain exponentially
    val base =
      s"""wc AS MATERIALIZED (
  SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(${toksArrSql()}) AS t FROM documents) GROUP BY 1),
v0 AS MATERIALIZED (
  SELECT word, cnt, ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s FROM wc)"""
    val stages = (1 to BpeNumMerges).map { k =>
      s"""p$k AS MATERIALIZED (
  SELECT arr[i] AS a, arr[i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT cnt, string_split(trim(s), '  ') AS arr FROM v${k - 1}) t,
       UNNEST(range(1, len(t.arr))) AS u(i)
  GROUP BY 1, 2),
m$k AS MATERIALIZED (SELECT a, b, c FROM p$k ORDER BY c DESC, a, b LIMIT 1),
v$k AS MATERIALIZED (
  SELECT word, cnt, replace(s, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ') AS s
  FROM v${k - 1}, m$k)"""
    }
    (base +: stages).mkString(",\n")
  }

  private def bpeMergesOracleSql: String = {
    val rows = (1 to BpeNumMerges).map { k =>
      s"SELECT CAST($k AS BIGINT) AS rank, a AS lhs, b AS rhs, a || b AS merged, c AS pair_count FROM m$k"
    }.mkString("\n  UNION ALL ")
    s"WITH $bpeCtesSql\nSELECT * FROM (\n  $rows)\nORDER BY rank"
  }

  private def bpeVocabOracleSql: String =
    s"""WITH $bpeCtesSql
SELECT token, CAST(sum(cnt) AS BIGINT) AS total_count,
  CAST(count(*) AS BIGINT) AS n_occurrences
FROM (SELECT cnt, unnest(string_split(trim(s), '  ')) AS token FROM v$BpeNumMerges)
GROUP BY 1 ORDER BY 1"""

  private def bpeEncodeOracleSql: String =
    s"""WITH $bpeCtesSql,
tok AS (
  SELECT doc_id, arr[i] AS word, i AS pos
  FROM (SELECT doc_id, ${toksArrSql()} AS arr FROM documents) t,
       UNNEST(range(1, len(t.arr) + 1)) AS u(i)),
wn AS (
  SELECT word, array_to_string(string_split(trim(s), '  '), ' ') AS sym_str,
    CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_sym
  FROM v$BpeNumMerges)
SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tokens,
  string_agg(sym_str, ' ' ORDER BY pos) AS token_str
FROM tok JOIN wn USING (word)
GROUP BY doc_id ORDER BY doc_id"""

  /** Tokens of `native:plain_words_en` (lowercase, punct removed) expressed
    * in DuckDB SQL: on this ASCII corpus the tokenizer's BERT-style
    * whitespace+punctuation-isolation then punct-drop is exactly "split on
    * runs of whitespace/ASCII-punctuation", minus special tokens. */
  private val tokSql =
    s"SELECT doc_id, lang, unnest(${toksArrSql()}) AS token FROM documents"

  /** FNV-1a 64 over the characters of `expr` as DuckDB HUGEINT arithmetic
    * with wrap-around mod 2^64. The xor only needs the low 7 bits on an
    * ASCII corpus (compare_oracle guards that), so it runs on BIGINT. */
  private def fnvSql(expr: String): String =
    "list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"list_transform(regexp_split_to_array($expr, ''), ch -> CAST(unicode(ch) AS HUGEINT))), " +
      "(h, c) -> ((h - (h % 128) + xor(CAST(h % 128 AS BIGINT), CAST(c AS BIGINT))) " +
      "* 1099511628211) % 18446744073709551616)"

  /** MinHash oracle: the seeded (a,b) constants are inlined from the same
    * Scala source as the engine (the lang-id-oracle pattern — config is
    * shared, computation independently re-derived by DuckDB: shingling,
    * FNV, and the mod-2^61-1 hash family all recomputed in SQL). */
  /** CTE chain re-deriving the full MinHash signature matrix as
    * `sig(doc_id, h, mh)` (missing shingle sets → Long.MaxValue fill,
    * matching the engine) — shared by the signature dump and the LSH
    * pairs oracle. */
  private def minHashSigCtes(
      numHashes: Int, seed: Long, textExpr: String = "text"): String = {
    val vals = graft.dedup.Dedup.minHashParams(numHashes, seed)
      .zipWithIndex.map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""params(h, a, b) AS (VALUES $vals),
t AS (
  SELECT doc_id, ${toksArrSql(textExpr)} AS toks
  FROM documents),
g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
         WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         ELSE list_transform(range(0, len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' '))
    END) AS gram
  FROM t),
sh AS (SELECT doc_id, ${fnvSql("gram")} AS fnv FROM g),
m AS (
  SELECT doc_id AS m_doc, p.h AS m_h,
    min((CAST(p.a AS HUGEINT) * (fnv % 2305843009213693951) + CAST(p.b AS HUGEINT)) % 2305843009213693951) AS mh
  FROM sh CROSS JOIN params p GROUP BY 1, 2),
sig AS (
  SELECT d.doc_id, p.h, CAST(coalesce(m.mh, 9223372036854775807) AS BIGINT) AS mh
  FROM documents d CROSS JOIN params p
  LEFT JOIN m ON m.m_doc = d.doc_id AND m.m_h = p.h)"""
  }

  private def minHashSql: String =
    s"""WITH ${minHashSigCtes(32, 42L)}
SELECT doc_id, CAST(h AS BIGINT) AS h, mh AS min_hash
FROM sig ORDER BY doc_id, h"""

  /** LSH banding with r=1, b=32 re-derived in SQL: band key = FNV of the
    * decimal string of the single signature component (exactly the
    * engine's `slice.mkString(",")` for one-row bands), estimate = the
    * component-agreement fraction. */
  private def minHashPairsSql: String =
    s"""WITH ${minHashSigCtes(32, 42L)},
bb AS (SELECT doc_id, h AS band, ${fnvSql("CAST(mh AS VARCHAR)")} AS bh FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
eq AS (
  SELECT c.id_a, c.id_b,
    sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.h = sa.h
  GROUP BY 1, 2)
SELECT id_a, id_b, round(est, 6) AS est_jaccard FROM eq
WHERE est >= 0.125 ORDER BY id_a, id_b"""

  /** Persisted-index probe: the [[minHashPairsSql]] machinery with the
    * indexed/probe split modeled (doc_id%3: ≠0 indexed, =0 probe) and
    * the engine's whole-bucket cap re-derived — a probed bucket whose
    * INDEXED membership exceeds the cap contributes no candidates.
    * Shared verbatim by q_dedup_index_probe and q_dedup_index_append:
    * an appended index must be indistinguishable from a one-shot
    * build, which is exactly what sharing the oracle asserts. */
  private def dedupIndexProbeSql: String = dedupIndexProbeSqlWith("")

  /** `candFilter` models tombstoned deletes: excluded from CANDIDATES
    * only — bucket sizes (`bsz`) keep counting tombstoned members,
    * because the engine's cap bounds physical probe cost and tombstoned
    * rows stay physical until a compaction (spec-pinned semantics).
    * `bszFilter` models a COMPACTED index, where the deleted rows are
    * physically gone and bucket sizes shrink accordingly. */
  /** `probeFilter` narrows the PROBE side (the delivery subset being
    * checked) — used by the incremental composition, where a snapshot
    * diff gates which delivery docs reach the index probe. */
  private def dedupIndexProbeSqlWith(
      candFilter: String, bszFilter: String = "", probeFilter: String = "",
      textExpr: String = "text"): String =
    s"""WITH ${minHashSigCtes(32, 42L, textExpr)},
bb AS (SELECT doc_id, h AS band, ${fnvSql("CAST(mh AS VARCHAR)")} AS bh FROM sig),
bsz AS (
  SELECT band, bh, count(*) AS n FROM bb WHERE doc_id % 3 <> 0$bszFilter GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT p.doc_id AS id_new, i.doc_id AS id_indexed
  FROM bb p
  JOIN bb i ON i.band = p.band AND i.bh = p.bh
  JOIN bsz ON bsz.band = p.band AND bsz.bh = p.bh AND bsz.n <= 4096
  WHERE p.doc_id % 3 = 0$probeFilter AND i.doc_id % 3 <> 0$candFilter),
eq AS (
  SELECT c.id_new, c.id_indexed,
    sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_new
  JOIN sig sb ON sb.doc_id = c.id_indexed AND sb.h = sa.h
  GROUP BY 1, 2)
SELECT id_new, id_indexed, round(est, 6) AS est_jaccard FROM eq
WHERE est >= 0.125 ORDER BY id_new, id_indexed"""

  /** Banded exact Jaccard: the same LSH-candidate CTEs as
    * [[minHashPairsSql]], verified by exact token-set intersection
    * instead of the signature-agreement estimator. */
  private def jaccardBandedSql: String =
    s"""WITH ${minHashSigCtes(32, 42L)},
bb AS (SELECT doc_id, h AS band, ${fnvSql("CAST(mh AS VARCHAR)")} AS bh FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
ts AS (
  SELECT doc_id, list_sort(list(DISTINCT token)) AS toks
  FROM ($tokSql) GROUP BY doc_id),
j AS (
  SELECT c.id_a, c.id_b,
    len(list_intersect(ta.toks, tb.toks)) AS shared,
    len(ta.toks) AS na, len(tb.toks) AS nb
  FROM cand c
  JOIN ts ta ON ta.doc_id = c.id_a
  JOIN ts tb ON tb.doc_id = c.id_b)
SELECT id_a, id_b,
  round(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
FROM j
WHERE shared >= 1 AND CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5
ORDER BY id_a, id_b"""

  /** Okapi BM25 re-derived: corpus constants from one aggregate, df per
    * term over the hit rows, per-doc scores summed in sorted-term order
    * (the engine's bit-reproducibility fold), round-before-cut.
    * `docFilter` (a full `WHERE ...` clause) shrinks the corpus — the
    * takedown oracle: a logical delete must equal this rebuilt-without
    * world in df(t), N, avgdl, and the final ranking. */
  private def bm25Sql(
      docFilter: String = "", textExpr: String = "text",
      terms: Seq[String] = Seq("spark", "join", "window")): String =
    s"""WITH base AS (
  SELECT doc_id, ${toksArrSql(textExpr)} AS toks
  FROM documents$docFilter),
tfs AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base)
  GROUP BY 1, 2, 3),
corpus AS (
  -- all documents, including any empty ones (the engine's N is count(*))
  SELECT count(*) AS n_docs,
         CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
  FROM base),
hits AS (
  SELECT doc_id, term, tf, dl, count(*) OVER (PARTITION BY term) AS df
  FROM tfs WHERE term IN (${terms.map(t => s"'$t'").mkString(", ")})),
scored AS (
  SELECT h.doc_id, h.term,
    ln(1.0 + (c.n_docs - h.df + 0.5) / (h.df + 0.5))
      * (h.tf * (1.2 + 1.0)) / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / c.avgdl)) AS score_t
  FROM hits h, corpus c),
docs AS (
  SELECT doc_id,
    list_reduce(list(score_t ORDER BY term), (acc, x) -> acc + x) AS score
  FROM scored GROUP BY doc_id)
SELECT doc_id, round(score, 6) AS score
FROM docs ORDER BY score DESC, doc_id ASC LIMIT 20"""

  /** The BATCHED serve re-derived: same per-term machinery as
    * [[bm25Sql]] with the query batch as a CTE — df(t) is global per
    * term (shared across queries, exactly like the engine pays it once
    * per batch), scores fold per (query, doc) in sorted-term order, and
    * the top-k cut is per query on the ROUNDED score (round-before-cut,
    * the per-call contract). The queries here mirror the engine's
    * `q_bm25_served_batch` batch literal — including a df=0 term, which
    * contributes nothing to any fold on either side. `docFilter` (a
    * full `WHERE ...` clause) is the takedown oracle, same as
    * [[bm25Sql]]'s: a logical delete served through the BATCH path must
    * equal this rebuilt-without world. */
  private def bm25BatchSql(docFilter: String = ""): String =
    s"""WITH base AS (
  SELECT doc_id, ${toksArrSql()} AS toks
  FROM documents$docFilter),
tfs AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base)
  GROUP BY 1, 2, 3),
corpus AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
  FROM base),
queries AS (
  SELECT CAST(v.q AS BIGINT) AS query_id, v.term FROM (VALUES
    (1, 'spark'), (1, 'join'), (1, 'window'),
    (2, 'scan'), (2, 'filter'),
    (3, 'sort'), (3, 'merge'), (3, 'hash'), (3, 'batch'),
    (4, 'vector'), (4, 'zzz_not_a_token'), (4, 'stream')) v(q, term)),
hits AS (
  SELECT doc_id, term, tf, dl, count(*) OVER (PARTITION BY term) AS df
  FROM tfs WHERE term IN (SELECT term FROM queries)),
scored AS (
  SELECT q.query_id, h.doc_id, h.term,
    ln(1.0 + (c.n_docs - h.df + 0.5) / (h.df + 0.5))
      * (h.tf * (1.2 + 1.0)) / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / c.avgdl)) AS score_t
  FROM hits h JOIN queries q ON q.term = h.term CROSS JOIN corpus c),
docs AS (
  SELECT query_id, doc_id,
    list_reduce(list(score_t ORDER BY term), (acc, x) -> acc + x) AS score
  FROM scored GROUP BY 1, 2)
SELECT query_id, doc_id, score FROM (
  SELECT query_id, doc_id, round(score, 6) AS score FROM docs)
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) <= 10
ORDER BY query_id, score DESC, doc_id ASC"""

  /** CTE chain computing each document's signed 64-bit SimHash as
    * `fp(doc_id, simhash)` — shared by the per-doc dump and the pairs
    * oracle. */
  private def simHashFpCtes: String =
    s"""tok AS (
  SELECT doc_id, unnest(${toksArrSql()}) AS token
  FROM documents),
th AS (SELECT doc_id, ${fnvSql("token")} AS fnv FROM tok),
bits AS (
  SELECT doc_id AS b_doc, b.b AS bit,
    sum(CASE WHEN (fnv >> CAST(b.b AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th, (SELECT unnest(range(0, 64)) AS b) b
  GROUP BY 1, 2),
fpagg AS (
  SELECT b_doc, sum(CASE WHEN acc > 0 THEN (CAST(1 AS HUGEINT) << CAST(bit AS HUGEINT)) ELSE 0 END) AS ufp
  FROM bits GROUP BY 1),
fp AS (
  SELECT d.doc_id,
    CAST(CASE WHEN ufp IS NULL THEN 0
              WHEN ufp >= 9223372036854775808 THEN ufp - 18446744073709551616
              ELSE ufp END AS BIGINT) AS simhash
  FROM documents d LEFT JOIN fpagg ON fpagg.b_doc = d.doc_id)"""

  private def simHashSql: String =
    s"""WITH $simHashFpCtes
SELECT doc_id, simhash FROM fp ORDER BY doc_id"""

  /** All-pairs Hamming ≤ 3 — exhaustively equal to the engine's
    * block-bucketed candidates by the pigeonhole argument. */
  private def simHashPairsSql: String =
    s"""WITH $simHashFpCtes
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b"""

  /** Sign-LSH + cosine verify fully re-derived in SQL: hyperplanes inlined
    * as literals from the same seeded generator as the engine, buckets as
    * sign-bit sums, candidates from bucket equality, verification via
    * `list_cosine_similarity` in double precision (same left-to-right
    * folding as the engine's `aggregate`, per the q_knn_cosine contract). */
  private def embedNearDupSql: String = {
    val planes = graft.similarity.Similarity.lshPlanes(4, 8, 64, 42L)
      .map { case (t, b, p) => s"($t, $b, [${p.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n  ")
    s"""WITH planes(t, b, p) AS (VALUES
  $planes),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings WHERE len(embedding) > 0),
sb AS (
  SELECT vec_id, t,
    sum(CASE WHEN list_inner_product(vec, p) > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS bucket
  FROM v CROSS JOIN planes GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sb a JOIN sb b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
s AS (
  SELECT c.id_a, c.id_b, list_cosine_similarity(va.vec, vb.vec) AS sim
  FROM cand c JOIN v va ON va.vec_id = c.id_a JOIN v vb ON vb.vec_id = c.id_b)
SELECT id_a, id_b, round(sim, 6) AS sim FROM s WHERE sim >= 0.3 ORDER BY id_a, id_b"""
  }

  /** The FnvDigitModel fixture re-derived in SQL — component d is base-97
    * digit d of the text's unsigned FNV-1a 64 (HUGEINT division; exact
    * integers, no float pooling to drift). Shared verbatim by
    * q_embed_cached (the cache layer) and q_embed_fixture (the engine):
    * one model, one math, one oracle. */
  private def embedFixtureOracleSql: String = {
    val dims = (0 until EmbedFixtureDim)
      .map(d => s"($d, ${BigInt(97).pow(d)})").mkString(", ")
    s"""WITH h AS (
  SELECT doc_id, ${fnvSql("coalesce(text,'')")} AS u FROM documents),
dims(dim, p) AS (VALUES $dims)
SELECT doc_id, CAST(dim AS BIGINT) AS dim,
  CAST((u // CAST(p AS HUGEINT)) % 97 AS DOUBLE) AS v
FROM h CROSS JOIN dims ORDER BY doc_id, dim"""
  }

  // --- unsigned-64 helpers for the splitmix feature oracle -------------
  private val U64 = "18446744073709551616" // 2^64
  private def toSigned64(e: String): String =
    s"CAST(CASE WHEN ($e) >= 9223372036854775808 THEN ($e) - $U64 ELSE ($e) END AS BIGINT)"
  private def toUnsigned64(e: String): String =
    s"(CASE WHEN ($e) < 0 THEN CAST(($e) AS HUGEINT) + $U64 ELSE CAST(($e) AS HUGEINT) END)"
  /** `a ^ b` on the 64-bit pattern of two unsigned HUGEINTs. */
  private def xorU64(a: String, b: String): String =
    toUnsigned64(s"xor(${toSigned64(a)}, ${toSigned64(b)})")

  /** Per-dimension splitmix of the stub feature extractor
    * (`FakeDecoder.features`) re-derived in SQL: wrap-around multiply by
    * the 64-bit constant is split into 32-bit halves so the HUGEINT
    * intermediate stays under 2^128; unsigned shifts are divisions; xor
    * runs on the signed bit pattern. Float semantics match the engine:
    * the double quotient is narrowed to FLOAT before subtracting 0.5f. */
  private def mediaFeaturesSql: String =
    s"""WITH h AS (
  SELECT doc_id, ${fnvSql("coalesce(text,'')")} AS u FROM documents),
dd AS (SELECT doc_id, u, unnest([0, 1, 2, 3]) AS d FROM h),
s0 AS (SELECT doc_id, u, d,
  ${xorU64("u", s"(d * CAST(11400714819323198485 AS HUGEINT)) % $U64")} AS v0 FROM dd),
s1 AS (SELECT doc_id, d, ${xorU64("v0", "v0 // 1073741824")} AS v1 FROM s0),
s2 AS (SELECT doc_id, d,
  (v1 * 484763065 + ((v1 * 3210233709) % 4294967296) * 4294967296) % $U64 AS v2 FROM s1),
s3 AS (SELECT doc_id, d, ${xorU64("v2", "v2 // 134217728")} AS v3 FROM s2)
SELECT doc_id, CAST(d AS BIGINT) AS d,
  round(CAST(CAST((v3 // 2048) / 9007199254740992.0 AS FLOAT) - CAST(0.5 AS FLOAT) AS DOUBLE), 6) AS val
FROM s3 ORDER BY doc_id, d"""

  private val keynessSql: String = {
    s"""WITH tok AS ($tokSql),
f0 AS (SELECT token, count(*) AS freq_corpus_0 FROM tok WHERE lang = 'en' GROUP BY 1),
f1 AS (SELECT token, count(*) AS freq_corpus_1 FROM tok WHERE lang <> 'en' GROUP BY 1),
j AS (SELECT token, coalesce(freq_corpus_0, 0) AS f0, coalesce(freq_corpus_1, 0) AS f1
      FROM f0 FULL OUTER JOIN f1 USING (token)),
tot AS (SELECT CAST(sum(f0) AS BIGINT) AS t0, CAST(sum(f1) AS BIGINT) AS t1,
               CAST(sum(f0) + sum(f1) AS BIGINT) AS grand FROM j),
base AS (
  SELECT token, f0, f1, t0, t1, grand, f0 + f1 AS total_freq,
         (f0 + f1) * t0 / grand AS expected_0,
         (f0 + f1) * t1 / grand AS expected_1
  FROM j CROSS JOIN tot),
ll AS (
  SELECT *,
    2 * (CASE WHEN f0 > 0 THEN f0 * ln(f0 / greatest(expected_0, 1e-10)) ELSE 0.0 END
       + CASE WHEN f1 > 0 THEN f1 * ln(f1 / greatest(expected_1, 1e-10)) ELSE 0.0 END) AS llv,
    least(expected_0, expected_1) AS min_expected
  FROM base)
SELECT token,
  f0 AS freq_corpus_0,
  f1 AS freq_corpus_1,
  round(expected_0, 6) AS expected_0,
  round(expected_1, 6) AS expected_1,
  CAST(t0 AS BIGINT) AS corpus_0_total,
  CAST(t1 AS BIGINT) AS corpus_1_total,
  round(llv, 6) AS log_likelihood_llv,
  round(llv - ln(grand), 6) AS bayes_factor_bic,
  round(CASE WHEN min_expected > 0 THEN llv / (grand * ln(greatest(min_expected, 1e-10))) ELSE 0.0 END, 6) AS effect_size_ell,
  CASE WHEN llv >= 15.13 THEN '****' WHEN llv >= 10.83 THEN '***'
       WHEN llv >= 6.63 THEN '**' WHEN llv >= 3.84 THEN '*' ELSE '' END AS significance,
  round(f0 / t0 * 100, 6) AS percent_corpus_0,
  round(f1 / t1 * 100, 6) AS percent_corpus_1,
  round(f0 / t0 - f1 / t1, 6) AS percent_diff,
  round(CASE WHEN f1 > 0 THEN (f0 / t0) / (f1 / t1) END, 6) AS relative_risk,
  round(CASE WHEN f0 > 0 AND f1 > 0 THEN ln((f0 / t0) / (f1 / t1)) END, 6) AS log_ratio,
  round(CASE WHEN f0 > 0 AND f1 > 0 AND t1 > f1 AND t0 > f0
             THEN (f0 * (t1 - f1)) / (f1 * (t0 - f0)) END, 6) AS odds_ratio
FROM ll ORDER BY token"""
  }

  /** IVF-Flat fully re-derived in SQL from the exported trained centroids:
    * cell assignment as the argmin of the double-precision squared L2
    * distance — `list_inner_product(diff, diff)` is the same left-to-right
    * IEEE fold as the engine's accumulation loop (the q_knn_cosine folding
    * contract applied to distances), ties broken on ascending cell id on
    * both sides — then nProbe probing for the query set and the exact
    * cosine re-rank within probed cells. The centroids are data-dependent
    * (trained on the sf directory's embeddings with the engine's own code
    * path), which is why this entry lives in [[oracleSqlFor]] rather than
    * the static [[oracleSql]] map. */
  /** The ONE deterministic topic-pipeline configuration every topic query
    * and its data-dependent oracle share. Sort-before-limit:
    * TopicModeling.run requires a deterministic input frame (labels
    * re-join the persisted chunks, and persist does not survive executor
    * loss) — a bare limit(200) takes whatever partitions answer first.
    *
    * Memoized per (session, dir) — the tokCacheDir warm-hit pattern: four
    * consumers (q_topic_model, q_topic_coords, q_topic_assembly, and the
    * oracle builder) read the SAME pipeline Output, exactly as a library
    * user would call run() once and consume its frames; the run is
    * deterministic, so the memo changes cost, never answers. */
  private val topicRuns =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), graft.topic.TopicModeling.Output]()
  private def topicRun(s: SparkSession, dir: String): graft.topic.TopicModeling.Output =
    topicRuns.computeIfAbsent((s, dir + "#eps"), { _ =>
      graft.topic.TopicModeling.run(
        tbl(s, dir, "documents").orderBy("doc_id").limit(200),
        "text",
        "doc_id",
        corpusCol = None,
        cfg = graft.topic.TopicModeling.Config(
          // 16-token chunks (the q_chunking constants): multiple chunks per
          // document, so the assembly's proportions/dominant algebra is
          // exercised on non-trivial distributions. eps pinned at 1.0 — the
          // probed density level where clustering the PaCMAP-reduced space
          // yields several clusters PLUS outliers on this corpus (probe
          // sweep: 0.2 → all noise, 1.0 → 5 topics + 48/738 noise, 2.0 →
          // one blob), so coords/rollup/assembly see the full label
          // structure, -1 included
          chunking = graft.topic.Chunking.Config(maxTokens = 16, overlap = 4),
          cluster = graft.topic.Cluster.Config(minClusterSize = 5, eps = Some(1.0))))
    })

  /** Same corpus/chunking as [[topicRun]] but the DEFAULT clustering path:
    * condensed-tree HDBSCAN over the PaCMAP reduction (no pinned eps) —
    * the configuration a reference user gets out of the box. Its labels
    * feed `q_topic_hdbscan`'s oracle through the exported chunk points. */
  private def topicRunHdbscan(s: SparkSession, dir: String): graft.topic.TopicModeling.Output =
    topicRuns.computeIfAbsent((s, dir + "#hdbscan"), { _ =>
      graft.topic.TopicModeling.run(
        tbl(s, dir, "documents").orderBy("doc_id").limit(200),
        "text",
        "doc_id",
        corpusCol = None,
        cfg = graft.topic.TopicModeling.Config(
          chunking = graft.topic.Chunking.Config(maxTokens = 16, overlap = 4),
          cluster = graft.topic.Cluster.Config(minClusterSize = 5)))
    })

  /** Data-dependent topic oracles: one pipeline run exports the per-chunk
    * `(doc_id, chunk_idx, label, x, y)` points as SQL literals; DuckDB
    * re-derives the coords centroids, the rollup/dominant algebra, and
    * the assembly join from them (see q_topic_coords / q_topic_assembly). */
  private def topicOracleSql(spark: SparkSession, dir: String): Map[String, String] = {
    val pts = topicRun(spark, dir).chunkPoints
    require(pts.nonEmpty, "topic oracle: pipeline produced no chunks")
    val vals = pts
      .map { case (d, c, l, x, y) => s"($d, $c, $l, ${x.toDouble}, ${y.toDouble})" }
      .mkString(", ")
    val ptsCte = s"pts(doc_id, chunk_idx, label, x, y) AS (VALUES $vals)"
    val coords =
      s"""WITH $ptsCte
SELECT CAST(label AS INT) AS label,
  round(avg(CAST(x AS DOUBLE)), 6) AS x,
  round(avg(CAST(y AS DOUBLE)), 6) AS y
FROM pts WHERE label <> -1
GROUP BY label ORDER BY label"""
    // x/y: the engine's driver loop folds the 2-D points in
    // (doc_id, chunk_idx) order in DOUBLE and casts the mean to FLOAT —
    // the ordered list_reduce + REAL cast reproduces that arithmetic
    // bitwise (the bm25 ordered-fold lesson), so round(6) compares equal
    val assembly =
      s"""WITH $ptsCte,
counts AS (
  SELECT doc_id, CAST(label AS INT) AS topic_id, count(*) AS cnt
  FROM pts GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(cnt) AS total FROM counts GROUP BY 1),
dom AS (
  SELECT doc_id, topic_id AS dominant_topic FROM (
    SELECT doc_id, topic_id,
      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, topic_id ASC) AS rn
    FROM counts WHERE topic_id <> -1) WHERE rn = 1),
coords AS (
  SELECT CAST(label AS INT) AS label,
    CAST(list_reduce(list(CAST(x AS DOUBLE) ORDER BY doc_id, chunk_idx), (a, b) -> a + b) / count(*) AS REAL) AS tx,
    CAST(list_reduce(list(CAST(y AS DOUBLE) ORDER BY doc_id, chunk_idx), (a, b) -> a + b) / count(*) AS REAL) AS ty
  FROM pts WHERE label <> -1 GROUP BY label),
base AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200)
SELECT b.doc_id,
  CAST(coalesce(d.dominant_topic, -1) AS INT) AS dominant_topic,
  c.topic_id,
  round(CAST(c.cnt AS DOUBLE) / t.total, 6) AS proportion,
  round(CAST(coalesce(co.tx, 0.0) AS DOUBLE), 6) AS x,
  round(CAST(coalesce(co.ty, 0.0) AS DOUBLE), 6) AS y,
  CAST((SELECT coalesce(max(label) + 1, 0) FROM pts WHERE label >= 0) AS INT) AS n_topics,
  CAST((SELECT count(*) FROM pts) AS BIGINT) AS n_chunks
FROM base b
LEFT JOIN counts c ON c.doc_id = b.doc_id
LEFT JOIN tot t ON t.doc_id = b.doc_id
LEFT JOIN dom d ON d.doc_id = b.doc_id
LEFT JOIN coords co ON co.label = coalesce(d.dominant_topic, -1)
ORDER BY b.doc_id, c.topic_id"""
    // the DEFAULT-path (HDBSCAN over PaCMAP) run exports its own points;
    // DuckDB re-derives the per-topic sizes + centroid algebra from them
    val hPts = topicRunHdbscan(spark, dir).chunkPoints
    require(hPts.nonEmpty, "topic oracle: hdbscan pipeline produced no chunks")
    val hVals = hPts
      .map { case (d, c, l, x, y) => s"($d, $c, $l, ${x.toDouble}, ${y.toDouble})" }
      .mkString(", ")
    val hdbscan =
      s"""WITH pts(doc_id, chunk_idx, label, x, y) AS (VALUES $hVals),
sizes AS (
  SELECT CAST(label AS INT) AS label, count(*) AS n_chunks,
    count(DISTINCT doc_id) AS n_docs
  FROM pts GROUP BY 1),
coords AS (
  SELECT CAST(label AS INT) AS label,
    round(avg(CAST(x AS DOUBLE)), 6) AS x,
    round(avg(CAST(y AS DOUBLE)), 6) AS y
  FROM pts WHERE label <> -1 GROUP BY 1)
SELECT s.label, CAST(s.n_chunks AS BIGINT) AS n_chunks,
  CAST(s.n_docs AS BIGINT) AS n_docs, c.x, c.y
FROM sizes s LEFT JOIN coords c ON c.label = s.label
ORDER BY s.label"""
    // the orchestrator's per-document summary re-derived from the same
    // exported points: dominant = most-frequent non-outlier chunk label
    // (count DESC, id ASC), n_dist = |per-doc (topic_id, proportion)
    // distribution| (outlier rows included, chunkless docs empty) —
    // upgrades q_topic_model from rows-only to a checked row
    val model =
      s"""WITH $ptsCte,
counts AS (
  SELECT doc_id, CAST(label AS INT) AS topic_id, count(*) AS cnt
  FROM pts GROUP BY 1, 2),
dom AS (
  SELECT doc_id, topic_id AS dominant_topic FROM (
    SELECT doc_id, topic_id,
      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, topic_id ASC) AS rn
    FROM counts WHERE topic_id <> -1) WHERE rn = 1),
nd AS (SELECT doc_id, count(*) AS n_dist FROM counts GROUP BY 1),
base AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200)
SELECT b.doc_id,
  CAST(coalesce(d.dominant_topic, -1) AS INT) AS dominant_topic,
  CAST(coalesce(nd.n_dist, 0) AS INT) AS n_dist,
  CAST((SELECT coalesce(max(label) + 1, 0) FROM pts WHERE label >= 0) AS INT) AS n_topics,
  CAST((SELECT count(*) FROM pts) AS BIGINT) AS n_chunks
FROM base b
LEFT JOIN nd ON nd.doc_id = b.doc_id
LEFT JOIN dom d ON d.doc_id = b.doc_id
ORDER BY b.doc_id"""
    Map(
      "q_topic_coords" -> coords,
      "q_topic_assembly" -> assembly,
      "q_topic_hdbscan" -> hdbscan,
      "q_topic_model" -> model)
  }

  /** The CTE prefix both IVF oracles share: centroid literals (trained on
    * the directory's own embeddings with the engine's code path), squared
    * distances, cell assignment, and nProbe probing for the query set. */
  /** cent/v/d/assign/probe over any `v(vec_id, vec DOUBLE[])` source —
    * shared by the raw-space IVF oracles and the OPQ×IVFADC oracle
    * (rotated vectors, rotated-space centroids). */
  private def ivfCellCtesSql(
      centroids: Array[Array[Float]],
      vSql: String,
      keepProbeRank: Boolean = false,
      queryFilter: String = s"vec_id < $IvfQueryMax"): String = {
    val vals = centroids.zipWithIndex
      .map { case (c, i) => s"($i, [${c.map(_.toDouble).mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n  ")
    // the sweep oracle ranks candidates per probe DEPTH, so it needs
    // the probe rank column the plain oracles drop
    val probeCols = if (keepProbeRank) "vec_id, cell, rn" else "vec_id, cell"
    s"""cent(cell, cv) AS (VALUES
  $vals),
v AS ($vSql),
d AS (
  SELECT vec_id, cell,
    list_inner_product(list_transform(range(1, len(vec) + 1), i -> vec[i] - cv[i]),
                       list_transform(range(1, len(vec) + 1), i -> vec[i] - cv[i])) AS d2
  FROM v CROSS JOIN cent),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d)
  WHERE rn = 1),
probe AS (
  SELECT $probeCols FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM d WHERE $queryFilter)
  WHERE rn <= $IvfProbe)"""
  }

  private def ivfCtesSql(
      spark: SparkSession, dir: String,
      queryFilter: String = s"vec_id < $IvfQueryMax"): String =
    ivfCellCtesSql(ivfCentroidsFor(spark, dir),
      "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings",
      queryFilter = queryFilter)

  private def ivfOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH ${ivfCtesSql(spark, dir)},
s AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
    list_cosine_similarity(vq.vec, vn.vec) AS sim
  FROM probe p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
  JOIN v vq ON vq.vec_id = p.vec_id
  JOIN v vn ON vn.vec_id = a.vec_id)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim FROM (
  SELECT query_id, neighbor_id, sim,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM s)
WHERE rank <= $IvfK ORDER BY query_id, rank"""

  /** IVF × int8 re-derived: the same cell assignment/probing as
    * [[ivfOracleSql]] (float geometry), the same quantization as the
    * q_knn_int8 oracle, scale-free integer-dot cosine in the re-rank. */
  private def ivfInt8OracleSql(spark: SparkSession, dir: String): String =
    s"""WITH ${ivfCtesSql(spark, dir)},
sc AS (
  SELECT vec_id, vec,
    list_max(list_transform(vec, x -> abs(x))) / 127.0 AS scale
  FROM v),
qz AS (
  SELECT vec_id,
    CASE WHEN scale > 0.0
         THEN list_transform(vec, x -> CAST(greatest(-127, least(127, CAST(round(x / scale) AS INT))) AS DOUBLE))
         ELSE list_transform(vec, x -> CAST(0 AS DOUBLE)) END AS qv
  FROM sc),
n AS (SELECT vec_id, qv, list_inner_product(qv, qv) AS n2 FROM qz),
s AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
    list_inner_product(nq.qv, nc.qv) / sqrt(nq.n2 * nc.n2) AS sim
  FROM probe p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
  JOIN n nq ON nq.vec_id = p.vec_id
  JOIN n nc ON nc.vec_id = a.vec_id
  WHERE nq.n2 > 0 AND nc.n2 > 0)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim FROM (
  SELECT query_id, neighbor_id, sim,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM s)
WHERE rank <= $IvfK ORDER BY query_id, rank"""

  /** SemDeDup re-derived: same cell assignment as [[ivfOracleSql]], then
    * within-cell pairs at `round(cos, 6) >= threshold`, recursive
    * connected components, keep-lowest-centroid-similarity (id
    * tiebreak) — every decision from the exported centroid literals. */
  private def semDedupOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH RECURSIVE ${ivfCtesSql(spark, dir)},
csim AS (
  SELECT a.vec_id, round(list_cosine_similarity(v.vec, c.cv), 6) AS csim
  FROM assign a JOIN v ON v.vec_id = a.vec_id JOIN cent c ON c.cell = a.cell),
prs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN v va ON va.vec_id = a.vec_id JOIN v vb ON vb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(va.vec, vb.vec), 6) >= $SemDedupThreshold),
sym AS (SELECT src, dst FROM prs UNION SELECT dst, src FROM prs),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id),
lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
losers AS (
  SELECT id FROM (
    SELECT l.id,
      row_number() OVER (PARTITION BY l.cluster_id ORDER BY cs.csim, l.id) AS rn
    FROM lab l JOIN csim cs ON cs.vec_id = l.id)
  WHERE rn > 1)
SELECT e.vec_id, e.label FROM embeddings e
WHERE e.vec_id NOT IN (SELECT id FROM losers) ORDER BY e.vec_id"""

  /** The PQ oracle prefix: codebook literals trained with the engine's
    * own code path, per-(vector, subspace, code) squared sub-distances
    * (the same `DOUBLE[]` `list_inner_product` fold [[ivfCtesSql]] uses,
    * over the subvector slice), and the argmin code table. */
  /** The cb/v/sd/codes core over any `v(vec_id, vec DOUBLE[])` source —
    * shared by the plain PQ oracles (raw embeddings) and the OPQ oracle
    * (rotated embeddings). */
  private def adcCoreCtes(cbs: Array[Array[Array[Float]]], vSql: String): String = {
    val dsub = cbs(0)(0).length
    val vals = (for {
      m <- cbs.indices
      k <- cbs(m).indices
    } yield s"($m, $k, [${cbs(m)(k).map(_.toDouble).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n  ")
    s"""cb(m, k, cv) AS (VALUES
  $vals),
v AS ($vSql),
sd AS (
  SELECT vec_id, cb.m, cb.k,
    list_inner_product(
      list_transform(range(1, $dsub + 1), i -> vec[cb.m * $dsub + i] - cv[i]),
      list_transform(range(1, $dsub + 1), i -> vec[cb.m * $dsub + i] - cv[i])) AS d2
  FROM v CROSS JOIN cb),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn FROM sd)
  WHERE rn = 1)"""
  }

  private def pqCtesSql(spark: SparkSession, dir: String): String =
    adcCoreCtes(pqCodebooksFor(spark, dir),
      "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings")

  private def pqCodesOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH ${pqCtesSql(spark, dir)}
SELECT vec_id, CAST(m AS INT) AS m, CAST(code AS INT) AS code
FROM codes ORDER BY vec_id, m"""

  /** ADC replay: each (query, neighbor, subspace) term is the query
    * subvector's stored sub-distance to the neighbor's code centroid;
    * the ordered `list_reduce` reproduces the engine's ascending-subspace
    * double fold bitwise, so ranks and `round(adist, 6)` compare exact. */
  /** adc/ranked over the cb/sd/codes core (plain or rotated). */
  private def adcRankCtes: String =
    s"""adc AS (
  SELECT s.vec_id AS query_id, c.vec_id AS neighbor_id,
    list_reduce(list(s.d2 ORDER BY s.m), (a, b) -> a + b) AS adist
  FROM codes c
  JOIN sd s ON s.m = c.m AND s.k = c.code AND s.vec_id <> c.vec_id
  WHERE s.vec_id < $IvfQueryMax
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, neighbor_id, adist,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS BIGINT) AS rank
  FROM adc)"""

  private def pqAdcCtesSql(spark: SparkSession, dir: String): String =
    s"""${pqCtesSql(spark, dir)},
$adcRankCtes"""

  /** OPQ replay: the rotation as row literals, each vector rotated with
    * the expression's exact arithmetic (DOUBLE dot product per
    * coordinate, rounded to FLOAT, lifted back to DOUBLE), then the
    * same cb/sd/codes/adc machinery on the rotated space. */
  private def opqAdcCtesSql(spark: SparkSession, dir: String): String = {
    val (rot, cbs) = opqFor(spark, dir)
    val rotVals = rot.zipWithIndex
      .map { case (row, i) => s"(${i + 1}, [${row.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n  ")
    val vSql =
      "SELECT vec_id, list(CAST(CAST(list_inner_product(rv, x) AS FLOAT) AS DOUBLE) ORDER BY i) AS vec " +
        "FROM v0 CROSS JOIN rot GROUP BY vec_id"
    s"""rot(i, rv) AS (VALUES
  $rotVals),
v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
${adcCoreCtes(cbs, vSql)},
$adcRankCtes"""
  }

  private def opqKnnOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH ${opqAdcCtesSql(spark, dir)}
SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist
FROM ranked WHERE rank <= $IvfK ORDER BY query_id, rank"""

  private def pqKnnOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH ${pqAdcCtesSql(spark, dir)}
SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist
FROM ranked WHERE rank <= $IvfK ORDER BY query_id, rank"""

  /** recall@k replay: exact cosine top-k vs the ADC `ranked` CTE. */
  private def pqRecallOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH ${pqAdcCtesSql(spark, dir)},
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                 c.vec_id) AS r
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < $IvfQueryMax AND c.vec_id <> q.vec_id)
  WHERE r <= $IvfK),
approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= $IvfK)
SELECT e.query_id,
  round(CAST(count(a.neighbor_id) AS DOUBLE) / $IvfK, 6) AS recall
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id ORDER BY e.query_id"""

  /** The re-ranked serving contract: the ADC shortlist (rank ≤
    * [[PqShortlist]], same ranked CTE as [[pqKnnOracleSql]]) joined back
    * to exact vectors and cosine re-ranked — the `list_cosine_similarity`
    * equivalence the green q_knn_cosine oracle already pins. */
  private def pqRerankOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH ${pqAdcCtesSql(spark, dir)}
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT s.query_id, s.neighbor_id,
    CAST(row_number() OVER (
      PARTITION BY s.query_id
      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
               s.neighbor_id) AS BIGINT) AS rank,
    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim
  FROM (SELECT query_id, neighbor_id FROM ranked WHERE rank <= $PqShortlist) s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings c ON c.vec_id = s.neighbor_id)
WHERE rank <= $IvfK ORDER BY query_id, rank"""

  /** IVFADC replay: the [[ivfCtesSql]] prefix (same coarse centroids,
    * assignment and probing as q_knn_ivf) plus residual-codebook
    * literals. `rsd` holds every vector's residual sub-distances to its
    * OWN cell's codebook entries (→ argmin codes), `qsd` the queries'
    * per-probed-cell lookup tables; the ADC join recombines them and the
    * ordered reduce reproduces the engine's ascending-subspace fold. */
  /** The residual-ADC tail over cent/v/assign/probe (raw or rotated):
    * rcb literals, residual codes, per-probe LUTs, the ordered fold and
    * the final rank select. */
  /** rcb/rsd/codes/qsd — the residual-code core over cent/v/assign/probe,
    * shared by [[ivfAdcTailSql]] and the probe-sweep oracle so the
    * residual-ADC math exists in exactly one place. */
  private def residCoreCtes(cbs: Array[Array[Array[Float]]]): String = {
    val dsub = cbs(0)(0).length
    val vals = (for {
      m <- cbs.indices
      k <- cbs(m).indices
    } yield s"($m, $k, [${cbs(m)(k).map(_.toDouble).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n  ")
    s"""rcb(m, k, rcv) AS (VALUES
  $vals),
rsd AS (
  SELECT a.vec_id, rcb.m, rcb.k,
    list_inner_product(
      list_transform(range(1, $dsub + 1), i -> v.vec[rcb.m * $dsub + i] - c.cv[rcb.m * $dsub + i] - rcv[i]),
      list_transform(range(1, $dsub + 1), i -> v.vec[rcb.m * $dsub + i] - c.cv[rcb.m * $dsub + i] - rcv[i])) AS d2
  FROM assign a JOIN v USING (vec_id) JOIN cent c ON c.cell = a.cell CROSS JOIN rcb),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn FROM rsd)
  WHERE rn = 1),
qsd AS (
  SELECT p.vec_id AS query_id, p.cell, rcb.m, rcb.k,
    list_inner_product(
      list_transform(range(1, $dsub + 1), i -> v.vec[rcb.m * $dsub + i] - c.cv[rcb.m * $dsub + i] - rcv[i]),
      list_transform(range(1, $dsub + 1), i -> v.vec[rcb.m * $dsub + i] - c.cv[rcb.m * $dsub + i] - rcv[i])) AS d2
  FROM probe p JOIN v ON v.vec_id = p.vec_id JOIN cent c ON c.cell = p.cell CROSS JOIN rcb)"""
  }

  private def ivfAdcTailSql(cbs: Array[Array[Array[Float]]], candFilter: String = ""): String = {
    s"""${residCoreCtes(cbs)},
terms AS (
  SELECT q.query_id, cd.vec_id AS neighbor_id, q.m, q.d2
  FROM qsd q
  JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.query_id$candFilter
  JOIN codes cd ON cd.vec_id = a.vec_id AND cd.m = q.m AND cd.code = q.k),
adc AS (
  SELECT query_id, neighbor_id,
    list_reduce(list(d2 ORDER BY m), (a, b) -> a + b) AS adist
  FROM terms GROUP BY 1, 2)
SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist FROM (
  SELECT query_id, neighbor_id, adist,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS BIGINT) AS rank
  FROM adc)
WHERE rank <= $IvfK ORDER BY query_id, rank"""
  }

  private def ivfPqOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH ${ivfCtesSql(spark, dir)},
${ivfAdcTailSql(ivfResidCodebooksFor(spark, dir))}"""

  /** The daily-curation loop fully re-derived: the diff rule, the
    * 3-gram contamination set against the eval split, the banded
    * near-dup probe (bucket cap included), and each store's post-append
    * bookkeeping — dedup bands buckets over at-rest ∪ survivors, BM25
    * posting rows as distinct (doc, term), and ANN cell occupancy from
    * the exported coarse-centroid literals over the exactly-replayable
    * fixture embedding (base-97 FNV digits; [[embedFixtureOracleSql]]'s
    * math). Every stage count and every store stat from first
    * principles — the whole production loop under one DuckDB gate. */
  private def dailyPipelineOracleSql(
      spark: SparkSession, dir: String, day2: Boolean = false): String = {
    val cents = dailyAnnCentroidsFor(spark, dir).zipWithIndex
      .map { case (c, i) => s"($i, [${c.map(_.toDouble).mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n  ")
    val digits = (0 until EmbedFixtureDim)
      .map(d => s"CAST((u // CAST(${BigInt(97).pow(d)} AS HUGEINT)) % 97 AS DOUBLE)")
      .mkString(", ")
    s"""WITH ${minHashSigCtes(32, 42L)},
fresh AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 = 2),
dg AS (
  SELECT doc_id, unnest(list_transform(range(0, greatest(len(toks) - 3 + 1, 0)),
    i -> ${fnvSql("array_to_string(toks[i+1:i+3], ' ')")})) AS gram
  FROM t),
evalg AS (
  SELECT DISTINCT gram FROM dg WHERE doc_id % 3 <> 0 AND doc_id % 11 = 0),
contaminated AS (
  SELECT DISTINCT dg.doc_id FROM dg JOIN fresh USING (doc_id) JOIN evalg USING (gram)),
clean AS (
  SELECT doc_id FROM fresh WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
bb AS (SELECT doc_id, h AS band, ${fnvSql("CAST(mh AS VARCHAR)")} AS bh FROM sig),
bsz AS (
  SELECT band, bh, count(*) AS n FROM bb WHERE doc_id % 3 <> 0 GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT p.doc_id AS id_new, i.doc_id AS id_indexed
  FROM bb p
  JOIN clean c ON c.doc_id = p.doc_id
  JOIN bb i ON i.band = p.band AND i.bh = p.bh AND i.doc_id % 3 <> 0
  JOIN bsz ON bsz.band = p.band AND bsz.bh = p.bh AND bsz.n <= 4096),
eq AS (
  SELECT c.id_new, c.id_indexed,
    sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_new
  JOIN sig sb ON sb.doc_id = c.id_indexed AND sb.h = sa.h
  GROUP BY 1, 2),
matched AS (SELECT DISTINCT id_new AS doc_id FROM eq WHERE est >= 0.125),
surv AS (
  SELECT doc_id FROM clean WHERE doc_id NOT IN (SELECT doc_id FROM matched)),
store AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 <> 0
  UNION ALL SELECT doc_id FROM surv),
dbuckets AS (
  SELECT band, bh FROM bb JOIN store USING (doc_id) GROUP BY 1, 2),
post AS (
  SELECT DISTINCT tf.doc_id, term
  FROM (SELECT doc_id, unnest(toks) AS term FROM t) tf
  JOIN store s2 ON s2.doc_id = tf.doc_id),
hsh AS (SELECT doc_id, ${fnvSql("coalesce(text,'')")} AS u FROM documents),
emb AS (SELECT doc_id, [$digits] AS vec FROM hsh),
cent(cell, cv) AS (VALUES
  $cents),
ad AS (
  SELECT e.doc_id, cell,
    list_inner_product(list_transform(range(1, len(vec) + 1), i -> vec[i] - cv[i]),
                       list_transform(range(1, len(vec) + 1), i -> vec[i] - cv[i])) AS d2
  FROM emb e JOIN store USING (doc_id) CROSS JOIN cent),
assign2 AS (
  SELECT doc_id, cell FROM (
    SELECT doc_id, cell,
      row_number() OVER (PARTITION BY doc_id ORDER BY d2, cell) AS rn FROM ad)
  WHERE rn = 1)
SELECT stage, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_units AS BIGINT) AS n_units FROM (
  SELECT 'delivery' AS stage,
    (SELECT count(*) FROM documents WHERE doc_id % 3 = 0) AS n_docs, 0 AS n_units
  UNION ALL SELECT 'fresh', ${if (day2) "0" else "(SELECT count(*) FROM fresh)"}, 0
  UNION ALL SELECT 'decontaminated', ${if (day2) "0" else "(SELECT count(*) FROM clean)"}, 0
  UNION ALL SELECT 'survivors', ${if (day2) "0" else "(SELECT count(*) FROM surv)"}, 0
  UNION ALL SELECT 'dedup_index', (SELECT count(*) FROM store),
    (SELECT count(*) FROM dbuckets)
  UNION ALL SELECT 'bm25_index', (SELECT count(*) FROM store),
    (SELECT count(*) FROM post)
  UNION ALL SELECT 'ann_index', (SELECT count(*) FROM store),
    (SELECT count(DISTINCT cell) FROM assign2))
ORDER BY stage"""
  }

  /** The SERVED hybrid stack fully re-derived: the BM25 chain (the
    * persisted index serves bit-identically to the in-session operator,
    * so the lexical replay is [[bm25Sql]]'s machinery cut at poolK) and
    * the COMPLETE IVFADC serving replay over the fixture embedding —
    * cell routing from exported centroid literals, residual codes from
    * exported codebook literals, per-probe ADC, rank cut at poolK —
    * with the query vector itself re-derived in SQL from the literal
    * query string (vec_id −1, exactly like the engine's query row).
    * Fusion/round/tie contract identical to the in-session RRF oracle. */
  private def hybridServedOracleSql(spark: SparkSession, dir: String): String = {
    val poolK = 20
    val digits = (0 until EmbedFixtureDim)
      .map(d => s"CAST((u // CAST(${BigInt(97).pow(d)} AS HUGEINT)) % 97 AS DOUBLE)")
      .mkString(", ")
    val vSql =
      s"""SELECT doc_id AS vec_id, [$digits] AS vec
  FROM (SELECT doc_id, ${fnvSql("coalesce(text,'')")} AS u FROM documents)
  UNION ALL
  SELECT CAST(-1 AS BIGINT) AS vec_id, [$digits] AS vec
  FROM (SELECT ${fnvSql("'spark join window'")} AS u)"""
    s"""WITH base AS (
  SELECT doc_id, ${toksArrSql()} AS toks
  FROM documents),
tfs AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base)
  GROUP BY 1, 2, 3),
corpus AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
  FROM base),
hits AS (
  SELECT doc_id, term, tf, dl, count(*) OVER (PARTITION BY term) AS df
  FROM tfs WHERE term IN ('spark', 'join', 'window')),
scored AS (
  SELECT h.doc_id, h.term,
    ln(1.0 + (c.n_docs - h.df + 0.5) / (h.df + 0.5))
      * (h.tf * (1.2 + 1.0)) / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / c.avgdl)) AS score_t
  FROM hits h, corpus c),
docs AS (
  SELECT doc_id,
    list_reduce(list(score_t ORDER BY term), (acc, x) -> acc + x) AS score
  FROM scored GROUP BY doc_id),
lex0 AS (
  SELECT doc_id, round(score, 6) AS s FROM docs
  ORDER BY s DESC, doc_id LIMIT $poolK),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r_lex
  FROM lex0),
${ivfCellCtesSql(docAnnCentroidsFor(spark, dir), vSql, queryFilter = "vec_id = -1")},
${residCoreCtes(docAnnResidFor(spark, dir))},
aterms AS (
  SELECT q.query_id, cd.vec_id AS neighbor_id, q.m, q.d2
  FROM qsd q
  JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.query_id
  JOIN codes cd ON cd.vec_id = a.vec_id AND cd.m = q.m AND cd.code = q.k),
adc AS (
  SELECT query_id, neighbor_id,
    list_reduce(list(d2 ORDER BY m), (a, b) -> a + b) AS adist
  FROM aterms GROUP BY 1, 2),
sem AS (
  SELECT neighbor_id AS doc_id, rank AS r_sem FROM (
    SELECT neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
    FROM adc)
  WHERE rank <= $poolK)
SELECT coalesce(l.doc_id, m.doc_id) AS doc_id, l.r_lex, m.r_sem,
  round(coalesce(1.0 / (60 + l.r_lex), 0.0)
      + coalesce(1.0 / (60 + m.r_sem), 0.0), 6) AS rrf
FROM lex l FULL JOIN sem m ON m.doc_id = l.doc_id
ORDER BY rrf DESC, doc_id LIMIT 20"""
  }

  /** The BATCHED served-hybrid stack re-derived: the per-query BM25
    * chain from a shared queries CTE ([[bm25BatchSql]]'s machinery with
    * the poolK cut + rank per query), the full IVF cell-route +
    * residual-code + ADC replay with the batch's THREE query vectors
    * entering the `v` world under the engine's negative synthetic ids
    * (sorted query ids 1,2,3 → −1,−2,−3), and the RRF fusion per query
    * — every query's rows are what serving it alone produces, which is
    * the engine's spec-pinned batch contract.
    *
    * `docFilter` (a full `WHERE ...` clause) is the BM25-side takedown
    * world (rebuilt-without semantics, like [[bm25BatchSql]]'s);
    * `candFilter` (an `AND ...` fragment on alias `a`) drops the same
    * ids from the ANN CANDIDATES before ranking — exactly where
    * serving's tombstone anti-join sits, with the trained artifacts
    * and cell assignment frozen like the engine's. `corpusTextSql` is
    * the replace-lifecycle world: both tiers re-derived over the
    * replaced text (tokens, dl, stats, AND the fixture embedding),
    * with the trained ANN artifacts still the ORIGINAL corpus's —
    * replace never retrains. */
  private def hybridServedBatchOracleSql(
      spark: SparkSession, dir: String,
      docFilter: String = "", candFilter: String = "",
      corpusTextSql: String = "text"): String = {
    val poolK = 20
    val digits = (0 until EmbedFixtureDim)
      .map(d => s"CAST((u // CAST(${BigInt(97).pow(d)} AS HUGEINT)) % 97 AS DOUBLE)")
      .mkString(", ")
    val qTexts = Seq(1L -> "spark join window", 2L -> "scan filter pushdown",
      3L -> "hash merge sort")
    val qVecSql = qTexts.map { case (qid, t) =>
      s"""SELECT CAST(${-qid} AS BIGINT) AS vec_id, [$digits] AS vec
  FROM (SELECT ${fnvSql(s"'$t'")} AS u)"""
    }.mkString("\n  UNION ALL\n  ")
    val vSql =
      s"""SELECT doc_id AS vec_id, [$digits] AS vec
  FROM (SELECT doc_id, ${fnvSql(s"coalesce($corpusTextSql,'')")} AS u FROM documents)
  UNION ALL
  $qVecSql"""
    s"""WITH base AS (
  SELECT doc_id, ${toksArrSql(corpusTextSql)} AS toks
  FROM documents$docFilter),
tfs AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base)
  GROUP BY 1, 2, 3),
corpus AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
  FROM base),
queries AS (
  SELECT CAST(v.q AS BIGINT) AS query_id, v.term FROM (VALUES
    (1, 'spark'), (1, 'join'), (1, 'window'),
    (2, 'scan'), (2, 'filter'),
    (3, 'sort'), (3, 'merge'), (3, 'hash')) v(q, term)),
hits AS (
  SELECT doc_id, term, tf, dl, count(*) OVER (PARTITION BY term) AS df
  FROM tfs WHERE term IN (SELECT term FROM queries)),
scored AS (
  SELECT q.query_id, h.doc_id, h.term,
    ln(1.0 + (c.n_docs - h.df + 0.5) / (h.df + 0.5))
      * (h.tf * (1.2 + 1.0)) / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / c.avgdl)) AS score_t
  FROM hits h JOIN queries q ON q.term = h.term CROSS JOIN corpus c),
docsq AS (
  SELECT query_id, doc_id,
    list_reduce(list(score_t ORDER BY term), (acc, x) -> acc + x) AS score
  FROM scored GROUP BY 1, 2),
lex AS (
  SELECT query_id, doc_id, rn AS r_lex FROM (
    SELECT query_id, doc_id,
      row_number() OVER (
        PARTITION BY query_id ORDER BY round(score, 6) DESC, doc_id) AS rn
    FROM docsq)
  WHERE rn <= $poolK),
${ivfCellCtesSql(docAnnCentroidsFor(spark, dir), vSql, queryFilter = "vec_id < 0")},
${residCoreCtes(docAnnResidFor(spark, dir))},
aterms AS (
  -- a.vec_id >= 0: candidates are CORPUS vectors only — the query
  -- vectors live in the v world for routing/LUT purposes but are never
  -- IN the served index, so another query's negative id must not
  -- surface as a neighbor (with one query the self-exclusion covered
  -- this; a batch needs the explicit corpus restriction)
  SELECT q.query_id, cd.vec_id AS neighbor_id, q.m, q.d2
  FROM qsd q
  JOIN assign a ON a.cell = q.cell AND a.vec_id >= 0
    AND a.vec_id <> q.query_id$candFilter
  JOIN codes cd ON cd.vec_id = a.vec_id AND cd.m = q.m AND cd.code = q.k),
adc AS (
  SELECT query_id, neighbor_id,
    list_reduce(list(d2 ORDER BY m), (a, b) -> a + b) AS adist
  FROM aterms GROUP BY 1, 2),
sem AS (
  SELECT CAST(-query_id AS BIGINT) AS query_id, neighbor_id AS doc_id,
    rank AS r_sem
  FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
    FROM adc)
  WHERE rank <= $poolK)
SELECT query_id, doc_id, r_lex, r_sem, rrf FROM (
  SELECT query_id, doc_id, l.r_lex, m.r_sem,
    round(coalesce(1.0 / (60 + l.r_lex), 0.0)
        + coalesce(1.0 / (60 + m.r_sem), 0.0), 6) AS rrf
  FROM lex l FULL JOIN sem m USING (query_id, doc_id))
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) <= 20
ORDER BY query_id, rrf DESC, doc_id"""
  }

  /** The ANN replace lifecycle re-derived: the SAME persisted trained
    * artifacts (centroid + residual-codebook literals — append never
    * retrains), over the corpus with the replacement text's fixture
    * embeddings. Query ids are disjoint from the replace set, so one
    * `v` world serves both sides. */
  private def knnReplacedOracleSql(spark: SparkSession, dir: String): String = {
    val digits = (0 until EmbedFixtureDim)
      .map(d => s"CAST((u // CAST(${BigInt(97).pow(d)} AS HUGEINT)) % 97 AS DOUBLE)")
      .mkString(", ")
    val vSql =
      s"""SELECT doc_id AS vec_id, [$digits] AS vec
  FROM (SELECT doc_id, ${fnvSql(s"coalesce($ReplaceTextSql, '')")} AS u FROM documents)"""
    s"""WITH ${ivfCellCtesSql(docAnnCentroidsFor(spark, dir), vSql,
      queryFilter = "vec_id < 5 AND vec_id % 17 <> 3")},
${ivfAdcTailSql(docAnnResidFor(spark, dir))}"""
  }

  /** Index bookkeeping replay: cell routing from exported centroid
    * literals, tombstones from the delete rule (`vec_id % 7 = 3`). */
  private def ivfStatsOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH ${ivfCtesSql(spark, dir)}
SELECT cell,
  CAST(count(*) AS BIGINT) AS n_codes,
  CAST(sum(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstoned
FROM assign GROUP BY cell ORDER BY cell"""

  /** The served-with-deletes replay: identical machinery, with the
    * tombstoned set (`vec_id % 7 = 3`) excluded from the CANDIDATES —
    * before ADC ranking, exactly where serving excludes it (a
    * tombstoned code must not occupy a shortlist slot). Queries are
    * unaffected: deletion removes a vector from the INDEX, not from
    * the query stream. */
  private def ivfPqDeleteOracleSql(spark: SparkSession, dir: String): String =
    s"""WITH ${ivfCtesSql(spark, dir)},
${ivfAdcTailSql(ivfResidCodebooksFor(spark, dir), " AND a.vec_id % 7 <> 3")}"""

  /** The nProbe sweep replay: same cent/v/d/assign as [[ivfCtesSql]]
    * but the probe CTE keeps its rank, candidates materialize per probe
    * level p (probed-cell rank ≤ p), ADC ranks per (p, query), and the
    * per-query recall against the exact cosine top-k — the whole
    * recall/latency curve from exported literals. */
  private def ivfProbeSweepOracleSql(spark: SparkSession, dir: String): String = {
    val ps = (1 to IvfProbe).map(p => s"($p)").mkString(", ")
    s"""WITH ${ivfCellCtesSql(ivfCentroidsFor(spark, dir),
      "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings",
      keepProbeRank = true)},
${residCoreCtes(ivfResidCodebooksFor(spark, dir))},
ps(p) AS (VALUES $ps),
cand AS (
  SELECT ps.p, pr.vec_id AS query_id, a.vec_id AS neighbor_id, a.cell
  FROM probe pr CROSS JOIN ps
  JOIN assign a ON a.cell = pr.cell AND a.vec_id <> pr.vec_id
  WHERE pr.rn <= ps.p),
adc AS (
  SELECT c.p, c.query_id, c.neighbor_id,
    list_reduce(list(q.d2 ORDER BY q.m), (x, y) -> x + y) AS adist
  FROM cand c
  JOIN codes cd ON cd.vec_id = c.neighbor_id
  JOIN qsd q ON q.query_id = c.query_id AND q.cell = c.cell AND q.m = cd.m AND q.k = cd.code
  GROUP BY 1, 2, 3),
approx AS (
  SELECT p, query_id, neighbor_id FROM (
    SELECT p, query_id, neighbor_id,
      row_number() OVER (PARTITION BY p, query_id ORDER BY adist, neighbor_id) AS rank
    FROM adc)
  WHERE rank <= $IvfK),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                 c.vec_id) AS r
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id < $IvfQueryMax AND c.vec_id <> q.vec_id)
  WHERE r <= $IvfK)
SELECT ps.p AS n_probe, e.query_id,
  round(CAST(count(a2.neighbor_id) AS DOUBLE) / $IvfK, 6) AS recall
FROM exact e CROSS JOIN ps
LEFT JOIN approx a2
  ON a2.p = ps.p AND a2.query_id = e.query_id AND a2.neighbor_id = e.neighbor_id
GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  /** OPQ×IVFADC replay: the OPQ rotation as row literals, every vector
    * rotated with the expression's exact arithmetic (DOUBLE dot, FLOAT
    * round, lifted back to DOUBLE — the [[opqAdcCtesSql]] contract),
    * then the UNCHANGED cell + residual-ADC machinery in the rotated
    * space with the rotated-space centroid/codebook literals. */
  private def opqIvfPqOracleSql(
      spark: SparkSession, dir: String,
      queryFilter: String = s"vec_id < $IvfQueryMax"): String = {
    val (rot, cents, rcbs) = opqIvfFor(spark, dir)
    val rotVals = rot.zipWithIndex
      .map { case (row, i) => s"(${i + 1}, [${row.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n  ")
    val vSql =
      "SELECT vec_id, list(CAST(CAST(list_inner_product(rv, x) AS FLOAT) AS DOUBLE) ORDER BY i) AS vec " +
        "FROM v0 CROSS JOIN rot GROUP BY vec_id"
    s"""WITH rot(i, rv) AS (VALUES
  $rotVals),
v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
${ivfCellCtesSql(cents, vSql, queryFilter = queryFilter)},
${ivfAdcTailSql(rcbs)}"""
  }

  /** The full oracle map for one sf directory: the static [[oracleSql]]
    * entries plus the data-dependent ones (IVF centroids are trained on
    * the directory's own tables before being inlined as SQL literals).
    * Verify dumps THIS map — the DuckDB side of every check still runs
    * entirely from the dumped SQL. */
  def oracleSqlFor(spark: SparkSession, dir: String): Map[String, String] =
    oracleSql +
      ("q_knn_ivf" -> ivfOracleSql(spark, dir)) +
      ("q_knn_ivf_int8" -> ivfInt8OracleSql(spark, dir)) +
      ("q_semdedup" -> semDedupOracleSql(spark, dir)) +
      ("q_pq_codes" -> pqCodesOracleSql(spark, dir)) +
      ("q_knn_pq" -> pqKnnOracleSql(spark, dir)) +
      ("q_knn_pq_rerank" -> pqRerankOracleSql(spark, dir)) +
      // served-from-parquet path: same trained artifacts, same contract,
      // same exact oracle as the in-session rerank pipeline
      ("q_knn_served" -> pqRerankOracleSql(spark, dir)) +
      ("q_knn_index_append" -> pqRerankOracleSql(spark, dir)) +
      ("q_stream_index_append" -> pqRerankOracleSql(spark, dir)) +
      ("q_knn_recall" -> pqRecallOracleSql(spark, dir)) +
      ("q_knn_opq" -> opqKnnOracleSql(spark, dir)) +
      ("q_knn_ivfpq" -> ivfPqOracleSql(spark, dir)) +
      ("q_daily_pipeline" -> dailyPipelineOracleSql(spark, dir)) +
      // day 2 = the day-1 store world with zeroed stage counts: the
      // re-delivered batch must cause NO store change (idempotence)
      ("q_daily_pipeline_day2" -> dailyPipelineOracleSql(spark, dir, day2 = true)) +
      // the auto-shape CC resolution answers the same SQL as the default
      ("q_dup_clusters_auto" -> oracleSql("q_dup_clusters")) +
      ("q_hybrid_served" -> hybridServedOracleSql(spark, dir)) +
      ("q_hybrid_served_batch" -> hybridServedBatchOracleSql(spark, dir)) +
      // the takedown hits BOTH tiers: rebuilt-without on the BM25 side,
      // candidate exclusion (frozen artifacts) on the ANN side
      ("q_hybrid_served_batch_delete" -> hybridServedBatchOracleSql(spark, dir,
        docFilter = " WHERE doc_id % 9 <> 4", candFilter = " AND a.vec_id % 9 <> 4")) +
      // the streamed query log is batch-split-invariant, so it shares
      // the one-shot batch oracle
      ("q_stream_hybrid_serve" -> hybridServedBatchOracleSql(spark, dir)) +
      // the replace world: both tiers re-derived over the refreshed
      // text, trained ANN artifacts frozen (replace never retrains)
      ("q_hybrid_replaced" -> hybridServedBatchOracleSql(spark, dir,
        corpusTextSql = ReplaceTextSql)) +
      ("q_knn_replaced" -> knnReplacedOracleSql(spark, dir)) +
      ("q_knn_ivf_served" -> ivfPqOracleSql(spark, dir)) +
      // the batched serve: same machinery, the batch's query filter in
      // the probe CTE — each query's rows equal serving it alone
      ("q_knn_served_batch" -> s"""WITH ${ivfCtesSql(spark, dir, "vec_id % 7 = 2")},
${ivfAdcTailSql(ivfResidCodebooksFor(spark, dir))}""") +
      ("q_knn_ivf_served_delete" -> ivfPqDeleteOracleSql(spark, dir)) +
      // post-compaction serving: rows physically gone instead of
      // anti-joined away — same results, same oracle
      ("q_knn_ivf_served_compacted" -> ivfPqDeleteOracleSql(spark, dir)) +
      ("q_knn_index_stats" -> ivfStatsOracleSql(spark, dir)) +
      ("q_knn_probe_recall" -> ivfProbeSweepOracleSql(spark, dir)) +
      ("q_knn_opq_ivf" -> opqIvfPqOracleSql(spark, dir)) +
      ("q_knn_opq_ivf_served" -> opqIvfPqOracleSql(spark, dir)) +
      // the composed stack's batched serve: same exported artifacts,
      // the batch's query filter in the probe CTE
      ("q_knn_opq_served_batch" ->
        opqIvfPqOracleSql(spark, dir, queryFilter = "vec_id % 7 = 2")) ++
      topicOracleSql(spark, dir)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops (see
    * [[oracleSqlFor]] for the data-dependent additions). */
  def oracleSql: Map[String, String] = Map(
    "q_bpe_merges" -> bpeMergesOracleSql,

    "q_bpe_vocab" -> bpeVocabOracleSql,

    "q_bpe_encode" -> bpeEncodeOracleSql,

    "q_clean_text" ->
      ("SELECT doc_id, trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), " +
        "'[!-/:-@\\[-`{-~0-9]', ' ', 'g'), '\\s+', ' ', 'g')) AS cleaned " +
        "FROM documents ORDER BY doc_id"),

    "q_top_orders" ->
      """SELECT o_orderkey,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS revenue,
  count(*) AS n_items
FROM orders
JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY revenue DESC, o_orderkey
LIMIT 20""",

    "q_lineitem_pricing" ->
      """SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_base_price,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS sum_disc_price,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 6) AS sum_charge,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-06-01 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_event_windows" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS sum_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2 ORDER BY 1, 2""",

    // the custom-state stream's final totals == the batch group-by
    "q_stream_running_totals" ->
      s"""SELECT lang AS key, count(*) AS n_docs,
  CAST(sum(len(${toksArrSql()})) AS BIGINT) AS n_toks
FROM documents GROUP BY 1 ORDER BY 1""",

    "q_stream_event_windows" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS sum_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2""",

    // the multi-batch watermark model, pinned against Spark's OBSERVED
    // two-watermark semantics (probe: graft.StreamProbe): in micro-batch
    // k the LATE-ROW FILTER uses the PREVIOUS batch's watermark (= max
    // event time through batch k−2, minus the 2 h delay — epoch for
    // k ≤ 1, so batch-1 rows are never filtered), while EVICTION/
    // emission uses the batch's own updated watermark; the two meet with
    // no gap (a row passing the late filter is guaranteed its window
    // was not yet evicted). A window is emitted iff the final watermark
    // (max event time over ALL batches − 2 h) passed its end — the
    // no-data cleanup batch covers a last file that advances the max.
    // Batch b of a row = its event_id%10 class (the stagedMultiDir
    // split): 1–7 → 0, 8–9 → 1, 0 → 2.
    "q_stream_late_windows" ->
      """WITH tagged AS (
  SELECT ts, event_type, value,
    CASE WHEN event_id % 10 = 0 THEN 2 WHEN event_id % 10 >= 8 THEN 1 ELSE 0 END AS b,
    time_bucket(INTERVAL 1 HOUR, ts) AS ws
  FROM events
), wm AS (
  SELECT
    (SELECT max(ts) FROM tagged WHERE b = 0) - INTERVAL 2 HOUR AS late2,
    (SELECT max(ts) FROM tagged) - INTERVAL 2 HOUR AS wmf
), kept AS (
  SELECT t.ts, t.event_type, t.value, t.ws
  FROM tagged t, wm
  WHERE t.b <= 1
     OR (t.b = 2 AND t.ws + INTERVAL 1 HOUR > wm.late2)
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS sum_value
FROM kept, wm
WHERE ws + INTERVAL 1 HOUR <= wm.wmf
GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_stream_enrich" ->
      """SELECT p_brand,
  count(*) AS n_items,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1 ORDER BY 1""",

    "q_stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
FROM events c
JOIN events p ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
ORDER BY 1, 2""",

    "q_event_props" ->
      """SELECT event_type,
  count(*) AS n,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY 1 ORDER BY 1""",

    "q_text_counts" ->
      ("""SELECT doc_id,
CAST(CASE WHEN t = '' THEN 0
     WHEN regexp_matches(t, '\s') THEN len(regexp_split_to_array(t, '\s+'))
     WHEN regexp_matches(t, '^[\x{4E00}-\x{9FFF}\x{3400}-\x{4DBF}\x{20000}-\x{2A6DF}\x{3040}-\x{309F}\x{30A0}-\x{30FF}\x{AC00}-\x{D7AF}]+$') THEN length(t)
     ELSE 1 END AS BIGINT) AS word_cnt,
CAST(length(coalesce(text, '')) AS BIGINT) AS char_cnt,
CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '[.!?。！？۔؟।॥]'), s -> regexp_matches(s, '\S'))) AS BIGINT) AS sentence_cnt
FROM (SELECT doc_id, text, regexp_replace(coalesce(text, ''), '^\s+|\s+$', '', 'g') AS t FROM documents) ORDER BY doc_id"""),

    "q_counts_by_lang" ->
      ("""WITH c AS (
SELECT lang,
CAST(CASE WHEN t = '' THEN 0
     WHEN regexp_matches(t, '\s') THEN len(regexp_split_to_array(t, '\s+'))
     WHEN regexp_matches(t, '^[\x{4E00}-\x{9FFF}\x{3400}-\x{4DBF}\x{20000}-\x{2A6DF}\x{3040}-\x{309F}\x{30A0}-\x{30FF}\x{AC00}-\x{D7AF}]+$') THEN length(t)
     ELSE 1 END AS BIGINT) AS word_cnt,
CAST(length(coalesce(text, '')) AS BIGINT) AS char_cnt,
CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '[.!?。！？۔؟।॥]'), s -> regexp_matches(s, '\S'))) AS BIGINT) AS sentence_cnt
FROM (SELECT lang, text, regexp_replace(coalesce(text, ''), '^\s+|\s+$', '', 'g') AS t FROM documents))
SELECT lang, count(*) AS n_docs, CAST(sum(word_cnt) AS BIGINT) AS total_words,
  CAST(sum(char_cnt) AS BIGINT) AS total_chars,
  CAST(sum(sentence_cnt) AS BIGINT) AS total_sentences,
  round(CAST(sum(char_cnt) AS BIGINT) / count(*), 6) AS avg_chars
FROM c GROUP BY lang ORDER BY lang"""),

    // the roundtripped corpus must equal the original table — same
    // contract for every interchange container (JSON / CSV / ORC) and
    // for the partition-pruned layout (filtered slice)
    "q_sink_roundtrip" ->
      """SELECT doc_id, lang, CAST(length(coalesce(text, '')) AS BIGINT) AS char_cnt
FROM documents ORDER BY doc_id""",

    "q_sink_roundtrip_csv" ->
      """SELECT doc_id, lang, CAST(length(coalesce(text, '')) AS BIGINT) AS char_cnt
FROM documents ORDER BY doc_id""",

    "q_sink_roundtrip_orc" ->
      """SELECT doc_id, lang, CAST(length(coalesce(text, '')) AS BIGINT) AS char_cnt
FROM documents ORDER BY doc_id""",

    "q_partitioned_scan" ->
      """SELECT doc_id, lang, CAST(length(coalesce(text, '')) AS BIGINT) AS char_cnt
FROM documents WHERE lang = 'en' ORDER BY doc_id""",

    // bucketed join == the plain join (layout changes cost, not answers)
    "q_bucketed_join" ->
      """SELECT o_orderkey,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS revenue,
  count(*) AS n_items
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey ORDER BY o_orderkey""",

    "q_tokenize_tokens" ->
      s"SELECT doc_id, token FROM ($tokSql) ORDER BY doc_id, token",

    // SQL-surface transform(tokenize)→token rewrite: same token stream
    "q_sql_token_strings" ->
      s"SELECT doc_id, token FROM ($tokSql) ORDER BY doc_id, token",

    // WordPiece greedy decomposition hand-derived per corpus word (the
    // vocab fixture makes it unambiguous); word starts recomputed from the
    // single-spaced corpus via a running-length window.
    "q_tokenize_wordpiece" -> wordPieceOracleSql,

    // SAME oracle for the gated tokenizer.json loader: the staged fixture
    // carries the identical vocabulary, so the loader path must reproduce
    // the registry-built WordPiece backend token-for-token
    "q_tokenize_hf_json" -> wordPieceOracleSql,

    // CJK tokenize rows: the phrase mapping and decompositions come from
    // CjkQueryFixture (spec-pinned against the real gated backends)
    "q_tokenize_cjk" -> cjkTokenizeOracleSql(
      None, graft.text.CjkQueryFixture.jaPhrase, graft.text.CjkQueryFixture.jaPieces),

    "q_tokenize_cjk_zh" -> cjkTokenizeOracleSql(
      Some("zh"), graft.text.CjkQueryFixture.zhPhrase, graft.text.CjkQueryFixture.zhPieces),

    "q_tokenize_cjk_ko" -> cjkTokenizeOracleSql(
      Some("de"), graft.text.CjkQueryFixture.koPhrase, graft.text.CjkQueryFixture.koPieces),

    "q_token_freq" ->
      s"SELECT token, count(*) AS freq FROM ($tokSql) GROUP BY token ORDER BY token",

    // MG with k > |vocab| is provably the exact count table
    "q_heavy_hitters" ->
      s"SELECT token, count(*) AS est_freq FROM ($tokSql) GROUP BY token ORDER BY token",

    // transformWithState running stats == the batch aggregate (the
    // AvailableNow drain covers every event exactly once)
    "q_stream_user_stats" ->
      """SELECT user_id, count(*) AS n_events,
  round(sum(coalesce(value, 0.0)), 6) AS sum_value
FROM events GROUP BY user_id ORDER BY user_id""",

    // streamed MG at k > |vocab| is provably the exact per-lang counts
    "q_stream_heavy_hitters" ->
      s"SELECT lang, token, count(*) AS est_freq FROM ($tokSql) GROUP BY 1, 2 ORDER BY 1, 2",

    // salted two-phase == direct GROUP BY (algebraic-aggregate identity)
    "q_salted_token_counts" ->
      s"SELECT token, count(*) AS freq FROM ($tokSql) GROUP BY token ORDER BY token",

    "q_keyness_en_rest" -> keynessSql,

    "q_bigram_pmi" ->
      s"""WITH t AS (
  SELECT doc_id, ${toksArrSql()} AS toks
  FROM documents),
tok AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS token
  FROM t),
adj AS (
  SELECT doc_id, token, lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS next
  FROM tok),
pc AS (
  SELECT token AS w1, next AS w2, count(*) AS n_ab
  FROM adj WHERE next IS NOT NULL GROUP BY 1, 2),
m AS (
  SELECT w1, w2, n_ab,
    sum(n_ab) OVER (PARTITION BY w1) AS n_a,
    sum(n_ab) OVER (PARTITION BY w2) AS n_b,
    sum(n_ab) OVER () AS n_total
  FROM pc)
SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
  round(ln((CAST(n_ab AS DOUBLE) * n_total) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6) AS pmi
FROM m ORDER BY w1, w2""",

    // windowed co-occurrence re-derived INDEPENDENTLY as a bounded-gap
    // positions self-join (the engine builds pairs by shifted zips — two
    // formulations, one answer)
    "q_cooc_pmi" ->
      s"""WITH t AS (
  SELECT doc_id, (${toksArrSql()})[1:$CoocMaxTokens] AS toks
  FROM documents),
tok AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS token
  FROM t),
pc AS (
  SELECT a.token AS w1, b.token AS w2, count(*) AS n_ab
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND $CoocWindow
  GROUP BY 1, 2),
m AS (
  SELECT w1, w2, n_ab,
    sum(n_ab) OVER (PARTITION BY w1) AS n_a,
    sum(n_ab) OVER (PARTITION BY w2) AS n_b,
    sum(n_ab) OVER () AS n_total
  FROM pc)
SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
  round(ln((CAST(n_ab AS DOUBLE) * n_total) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6) AS pmi
FROM m ORDER BY w1, w2""",

    // Contexts are recomputable in SQL because this corpus is single-space
    // separated ASCII words with no punctuation (guarded by the non-ASCII
    // warning in tools/compare_oracle.py): tokenize(.., lowercase=false,
    // remove_punct=false) degenerates to whitespace split.
    "q_concordance" ->
      """WITH m AS (
  SELECT doc_id, text,
         unnest(list_filter(range(1, length(text) + 1),
                            i -> substring(text, i, 5) = 'spark')) AS pos
  FROM documents),
ctx AS (
  SELECT doc_id, pos,
    list_filter(regexp_split_to_array(substring(text, 1, pos - 1), '\s+'), s -> s <> '') AS ltoks,
    list_filter(regexp_split_to_array(substring(text, pos + 5), '\s+'), s -> s <> '') AS rtoks
  FROM m)
SELECT doc_id,
  coalesce(array_to_string(ltoks[greatest(len(ltoks) - 4, 1):len(ltoks)], ' '), '') AS left_context,
  'spark' AS matched_text,
  coalesce(array_to_string(rtoks[1:least(5, len(rtoks))], ' '), '') AS right_context,
  CAST(pos - 1 AS BIGINT) AS start_idx,
  CAST(pos + 4 AS BIGINT) AS end_idx,
  coalesce(ltoks[len(ltoks)], '') AS l1,
  coalesce(rtoks[1], '') AS r1
FROM ctx ORDER BY doc_id, start_idx""",

    // Regex mode re-derived by enumerating candidate positions: the
    // pattern is FIXED-LENGTH (4 chars), so "substring at i matches
    // ^…$" enumerates exactly the engine's matcher.find() results —
    // candidates on this corpus can never overlap (a letters-only match
    // cannot span the space between words, and no vocabulary word
    // contains two `s[ct]` starts within 3 chars), so find()'s
    // skip-past-match-end drops nothing.
    "q_concordance_regex" ->
      """WITH m AS (
  SELECT doc_id, text,
         unnest(list_filter(range(1, length(text) + 1),
                            i -> regexp_matches(substring(text, i, 4), '^s[ct][a-z]{2}$'))) AS pos
  FROM documents),
ctx AS (
  SELECT doc_id, pos, substring(text, pos, 4) AS mt,
    list_filter(regexp_split_to_array(substring(text, 1, pos - 1), '\s+'), s -> s <> '') AS ltoks,
    list_filter(regexp_split_to_array(substring(text, pos + 4), '\s+'), s -> s <> '') AS rtoks
  FROM m)
SELECT doc_id,
  coalesce(array_to_string(ltoks[greatest(len(ltoks) - 4, 1):len(ltoks)], ' '), '') AS left_context,
  mt AS matched_text,
  coalesce(array_to_string(rtoks[1:least(5, len(rtoks))], ' '), '') AS right_context,
  CAST(pos - 1 AS BIGINT) AS start_idx,
  CAST(pos + 3 AS BIGINT) AS end_idx,
  coalesce(ltoks[len(ltoks)], '') AS l1,
  coalesce(rtoks[1], '') AS r1
FROM ctx ORDER BY doc_id, start_idx""",

    "q_stratified_sample" ->
      """SELECT lang, pick_rank, doc_id FROM (
  SELECT lang, doc_id,
    CAST(row_number() OVER (
      PARTITION BY lang ORDER BY sha256(coalesce(text, '')), doc_id) AS BIGINT) AS pick_rank
  FROM documents)
WHERE pick_rank <= 25 ORDER BY lang, pick_rank""",

    // same sha256-derived u, same ln(u)/w key (IEEE ln agrees between
    // engines; rank flips would need keys within 1 ulp)
    "q_weighted_sample" ->
      """SELECT lang, pick_rank, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
    CAST(row_number() OVER (
      PARTITION BY lang
      ORDER BY ln((CAST(concat('0x', substr(sha256(coalesce(text, '')), 1, 8)) AS UBIGINT) + 0.5) / 4294967296.0) / n_chars DESC,
               doc_id) AS BIGINT) AS pick_rank
  FROM documents)
WHERE pick_rank <= 20 ORDER BY lang, pick_rank""",

    "q_dedup_exact" ->
      """SELECT doc_id,
  sha256(coalesce(text, '')) AS content_hash,
  CAST(row_number() OVER (PARTITION BY sha256(coalesce(text, '')) ORDER BY doc_id) AS BIGINT) AS dup_rank,
  CAST(count(*) OVER (PARTITION BY sha256(coalesce(text, ''))) AS BIGINT) AS n_copies
FROM documents ORDER BY doc_id""",

    // snapshot diff re-derived: same split rules, same revision rule,
    // same content hash, classification by full-outer presence + hash
    "q_snapshot_diff" ->
      """WITH o AS (
  SELECT doc_id, sha256(coalesce(text, '')) AS old_hash
  FROM documents WHERE doc_id % 11 <> 0),
n AS (
  SELECT doc_id,
    sha256(CASE WHEN doc_id % 7 = 0 THEN coalesce(text, '') || ' rev'
                ELSE coalesce(text, '') END) AS new_hash
  FROM documents WHERE doc_id % 13 <> 0)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.doc_id IS NULL THEN 'added'
       WHEN n.doc_id IS NULL THEN 'removed'
       WHEN o.old_hash <> n.new_hash THEN 'changed'
       ELSE 'unchanged' END AS status
FROM o FULL JOIN n ON o.doc_id = n.doc_id
ORDER BY doc_id""",

    "q_dedup_normalized" ->
      """WITH c AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), '[!-/:-@\[-`{-~0-9]', ' ', 'g'), '\s+', ' ', 'g')) AS clean
  FROM documents)
SELECT doc_id,
  sha256(clean) AS content_hash,
  CAST(row_number() OVER (PARTITION BY sha256(clean) ORDER BY doc_id) AS BIGINT) AS dup_rank,
  CAST(count(*) OVER (PARTITION BY sha256(clean)) AS BIGINT) AS n_copies
FROM c ORDER BY doc_id""",

    "q_minhash_sig" -> minHashSql,

    "q_minhash_pairs" -> minHashPairsSql,
    "q_dedup_index_probe" -> dedupIndexProbeSql,
    "q_dedup_index_append" -> dedupIndexProbeSql,
    "q_dedup_index_delete" -> dedupIndexProbeSqlWith(" AND i.doc_id % 5 <> 1"),
    "q_dedup_index_compacted" -> dedupIndexProbeSqlWith(
      " AND i.doc_id % 5 <> 1", bszFilter = " AND doc_id % 5 <> 1"),
    // grace-retention compaction serves the same resolved tree
    "q_dedup_index_compact_grace" -> dedupIndexProbeSqlWith(
      " AND i.doc_id % 5 <> 1", bszFilter = " AND doc_id % 5 <> 1"),
    // the diff-gated probe: only the delivery's fresh (%5==2) docs
    // probe; the snapshot-diff gate itself is oracle-pinned in
    // q_snapshot_diff, and here it provably reduces to the %5==2 set
    // (no revisions or removals in this delivery pair)
    "q_incremental_probe" -> dedupIndexProbeSqlWith(
      "", probeFilter = " AND p.doc_id % 5 = 2"),
    "q_stream_dedup_ingest" -> dedupIndexProbeSql,
    // bookkeeping on the %3≠0 index with the %5==1 takedown: doc and
    // tombstone counts from the split/delete rules; bucket stats from
    // the same banding the probe oracles replay
    "q_dedup_index_stats" ->
      s"""WITH ${minHashSigCtes(32, 42L)},
bb AS (SELECT doc_id, h AS band, ${fnvSql("CAST(mh AS VARCHAR)")} AS bh FROM sig
       WHERE doc_id % 3 <> 0),
bsz AS (SELECT band, bh, count(*) AS n FROM bb GROUP BY 1, 2)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 3 <> 0) AS n_docs,
  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1)
    AS n_tombstoned,
  (SELECT CAST(count(*) AS BIGINT) FROM bsz) AS n_buckets,
  (SELECT CAST(max(n) AS BIGINT) FROM bsz) AS max_bucket""",

    "q_jaccard_banded" -> jaccardBandedSql,

    "q_simhash" -> simHashSql,

    "q_simhash_pairs" -> simHashPairsSql,

    // n-gram overlap re-derived over the same FNV shingle keys the
    // engine joins on; DuckDB's range(a, b) is empty when b <= a,
    // covering the short-doc case.
    "q_decontaminate" ->
      s"""WITH base AS (
  SELECT doc_id, lang, ${toksArrSql()} AS toks
  FROM documents),
g AS (
  SELECT doc_id, lang,
    unnest(list_transform(range(0, greatest(len(toks) - 3 + 1, 0)),
      i -> ${fnvSql("array_to_string(toks[i+1:i+3], ' ')")})) AS gram
  FROM base),
train AS (SELECT DISTINCT gram FROM g WHERE lang <> 'en'),
test AS (SELECT DISTINCT doc_id, gram FROM g WHERE lang = 'en')
SELECT t.doc_id, count(*) AS n_hits
FROM test t JOIN train USING (gram)
GROUP BY 1 HAVING count(*) >= 1 ORDER BY 1""",

    // the Bloom gate fully re-derived: same signed shingle keys, same
    // "j:key" seeded positions mod m (power of two — signed/unsigned
    // folds agree), bit membership as a position-set semi-join; false
    // positives reproduce exactly because every position is deterministic
    "q_decontaminate_bloom" ->
      s"""WITH ev AS (
  SELECT ${toksArrSql()} AS toks FROM documents WHERE lang = 'en'),
eg AS (
  SELECT unnest(list_transform(range(0, greatest(len(toks) - $BloomN + 1, 0)),
    i -> array_to_string(toks[i+1:i+$BloomN], ' '))) AS gram
  FROM ev),
ek AS (SELECT DISTINCT CAST(${toSigned64(fnvSql("gram"))} AS VARCHAR) AS ks FROM eg),
js AS (SELECT unnest(range(0, $BloomK)) AS j),
ep AS (
  SELECT DISTINCT CAST(${fnvSql("CAST(j AS VARCHAR) || ':' || ks")} % $BloomM AS BIGINT) AS pos
  FROM ek CROSS JOIN js),
tr AS (
  SELECT doc_id, ${toksArrSql()} AS toks FROM documents WHERE lang <> 'en'),
tg AS (
  SELECT doc_id,
    unnest(list_transform(range(0, greatest(len(toks) - $BloomN + 1, 0)),
      i -> array_to_string(toks[i+1:i+$BloomN], ' '))) AS gram
  FROM tr),
tk AS (SELECT doc_id, CAST(${toSigned64(fnvSql("gram"))} AS VARCHAR) AS ks FROM tg),
dp AS (
  SELECT ks, count(*) FILTER (WHERE pos IN (SELECT pos FROM ep)) = $BloomK AS flagged
  FROM (
    SELECT du.ks, CAST(${fnvSql("CAST(j AS VARCHAR) || ':' || du.ks")} % $BloomM AS BIGINT) AS pos
    FROM (SELECT DISTINCT ks FROM tk) du CROSS JOIN js)
  GROUP BY ks),
a AS (
  SELECT tk.doc_id, count(*) AS n_grams,
    count(CASE WHEN dp.flagged THEN 1 END) AS n_flagged
  FROM tk JOIN dp USING (ks) GROUP BY 1)
SELECT t.doc_id,
  CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(a.n_flagged, 0) AS BIGINT) AS n_flagged,
  coalesce(a.n_flagged, 0) > 0 AS contaminated
FROM tr t LEFT JOIN a USING (doc_id)
ORDER BY t.doc_id""",

    // the contamination matrix re-derived as a distinct-key self-join
    // over the same FNV shingle keys the engine aggregates
    "q_cross_domain" ->
      s"""WITH t AS (
  SELECT lang, ${toksArrSql()} AS toks FROM documents),
g AS (
  SELECT DISTINCT lang AS domain, gram FROM (
    SELECT lang, unnest(list_transform(range(0, greatest(len(toks) - 3 + 1, 0)),
      i -> ${fnvSql("array_to_string(toks[i+1:i+3], ' ')")})) AS gram
    FROM t))
SELECT a.domain AS domain_a, b.domain AS domain_b, count(*) AS n_shared
FROM g a JOIN g b ON a.gram = b.gram AND a.domain < b.domain
GROUP BY 1, 2 ORDER BY 1, 2""",

    // Connected components re-derived with a recursive CTE: reach(id, r)
    // closes the symmetric edge set; min reachable id == the engine's
    // min-label fixpoint (both are THE component minimum — unique).
    "q_dup_clusters" ->
      s"""WITH RECURSIVE $simHashFpCtes,
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id),
lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
FROM lab ORDER BY doc_id""",

    // span dedup re-derived: same fixed-stride span construction, global
    // first occurrence by (doc_id, span_no), reassembly as an ordered
    // string_agg; token-less docs ride the LEFT JOIN back
    "q_span_dedup" ->
      s"""WITH t AS (
  SELECT doc_id, ${toksArrSql()} AS toks
  FROM documents),
sp AS (
  SELECT doc_id,
    unnest(range(0, CAST(ceil(len(toks) / ${SpanDedupWords}.0) AS BIGINT))) AS span_no,
    unnest(list_transform(range(0, CAST(ceil(len(toks) / ${SpanDedupWords}.0) AS BIGINT)),
      i -> array_to_string(list_slice(toks, i * $SpanDedupWords + 1, (i + 1) * $SpanDedupWords), ' '))) AS span
  FROM t),
rk AS (
  SELECT doc_id, span_no, span,
    row_number() OVER (PARTITION BY span ORDER BY doc_id, span_no) AS rk
  FROM sp),
agg AS (
  SELECT doc_id,
    count(span) AS n_spans,
    count(CASE WHEN rk = 1 THEN span END) AS n_kept,
    coalesce(string_agg(CASE WHEN rk = 1 THEN span END, ' ' ORDER BY span_no), '') AS text_deduped
  FROM rk GROUP BY doc_id)
SELECT d.doc_id,
  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
  coalesce(a.text_deduped, '') AS text_deduped
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id""",

    // novelty audit re-derived: same shingle keys, distinct (doc, key),
    // per-key doc counts, shared-fraction algebra
    "q_novelty_audit" -> {
      val k = ShingleWords
      s"""WITH t AS (
  SELECT doc_id, ${toksArrSql()} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, key FROM (
    SELECT doc_id,
      unnest(list_transform(range(0, greatest(len(toks) - $k + 1, 0)),
        i -> ${fnvSql(s"array_to_string(toks[i+1:i+$k], ' ')")})) AS key
    FROM t)),
kc AS (SELECT key, count(*) AS nd FROM sh GROUP BY 1),
a AS (
  SELECT doc_id, count(*) AS n_shingles,
    count(CASE WHEN kc.nd > 1 THEN 1 END) AS n_shared
  FROM sh JOIN kc USING (key) GROUP BY 1)
SELECT d.doc_id,
  CAST(coalesce(a.n_shingles, 0) AS BIGINT) AS n_shingles,
  CAST(coalesce(a.n_shared, 0) AS BIGINT) AS n_shared,
  round(CASE WHEN coalesce(a.n_shingles, 0) > 0
             THEN CAST(a.n_shared AS DOUBLE) / CAST(a.n_shingles AS DOUBLE)
             ELSE 0.0 END, 6) AS dup_frac
FROM documents d LEFT JOIN a USING (doc_id)
ORDER BY d.doc_id"""
    },

    // winnowing re-derived: same signed shingle keys, rightmost-min of
    // each w-window via an ordered list_reduce fold, consecutive
    // same-position selections collapsed by subscript comparison
    "q_winnow" ->
      s"""WITH ${winnowCtes(WinnowK, WinnowW)}
SELECT doc_id, pos, fp FROM wfp ORDER BY doc_id, pos""",

    // winnow pairs re-derived from the same fingerprint sets: distinct
    // (doc, fp), per-doc set sizes, fp-keyed self-join, containment score
    "q_winnow_pairs" ->
      s"""WITH ${winnowCtes(WinnowK, WinnowW)},
d AS (SELECT DISTINCT doc_id, fp FROM wfp),
sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY 1),
pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
  round(CAST(n_shared AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
FROM pr JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE n_shared >= 2
ORDER BY id_a, id_b""",

    // stride-1 shingle dedup re-derived: same FNV shingle keys, global
    // first occurrence by (doc_id, start), covered-position expansion,
    // positional rebuild — dup starts expand to intervals on both sides
    "q_span_dedup_s1" -> {
      val k = ShingleWords
      s"""WITH t AS (
  SELECT doc_id, ${toksArrSql()} AS toks FROM documents),
sh AS (
  SELECT doc_id,
    unnest(range(0, greatest(len(toks) - $k + 1, 0))) AS start,
    unnest(list_transform(range(0, greatest(len(toks) - $k + 1, 0)),
      i -> ${fnvSql(s"array_to_string(toks[i+1:i+$k], ' ')")})) AS key
  FROM t),
rk AS (
  SELECT doc_id, start,
    row_number() OVER (PARTITION BY key ORDER BY doc_id, start) AS rk
  FROM sh),
a AS (
  SELECT doc_id,
    count(*) AS n_shingles,
    count(CASE WHEN rk > 1 THEN 1 END) AS n_dup,
    list(start ORDER BY start) FILTER (WHERE rk > 1) AS dstarts
  FROM rk GROUP BY doc_id),
f AS (
  SELECT t.doc_id, t.toks,
    coalesce(a.n_shingles, 0) AS n_shingles,
    coalesce(a.n_dup, 0) AS n_dup,
    list_distinct(flatten(list_transform(
      coalesce(a.dstarts, CAST([] AS BIGINT[])), s -> range(s, s + $k)))) AS cov
  FROM t LEFT JOIN a USING (doc_id))
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(n_shingles AS BIGINT) AS n_shingles,
  CAST(n_dup AS BIGINT) AS n_dup,
  CAST(len(toks) - len(cov) AS BIGINT) AS n_kept,
  coalesce(array_to_string(
    list_transform(
      list_filter(range(0, len(toks)), p -> NOT list_contains(cov, p)),
      p -> toks[p + 1]),
    ' '), '') AS text_deduped
FROM f ORDER BY doc_id"""
    },

    // same component resolution, composed to its end use: drop every
    // member but the canonical min-id representative
    "q_neardup_survivors" ->
      s"""WITH RECURSIVE $simHashFpCtes,
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id),
lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
ORDER BY d.doc_id""",

    // same components, production representative policy: per-cluster
    // argmax on (n_chars DESC, doc_id) survives instead of min-id
    "q_neardup_best" ->
      s"""WITH RECURSIVE $simHashFpCtes,
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id),
lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
rnk AS (
  SELECT l.doc_id,
    row_number() OVER (PARTITION BY l.cluster_id
                       ORDER BY d.n_chars DESC, l.doc_id) AS rk
  FROM lab l JOIN documents d ON d.doc_id = l.doc_id)
SELECT d.doc_id, d.lang, d.n_chars FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM rnk WHERE rk > 1)
ORDER BY d.doc_id""",

    // the epoch shuffle re-derived: same salted FNV (signed-64 view),
    // same pmod shard, same (hash, id) rank within shard
    "q_train_order" ->
      s"""WITH h0 AS (
  SELECT doc_id, ${fnvSql("'epoch0:' || CAST(doc_id AS VARCHAR)")} AS u FROM documents),
h AS (SELECT doc_id, ${toSigned64("u")} AS s FROM h0)
SELECT doc_id,
  CAST(((s % 8) + 8) % 8 AS INT) AS shard,
  CAST(row_number() OVER (PARTITION BY ((s % 8) + 8) % 8
                          ORDER BY s, doc_id) AS BIGINT) AS pos
FROM h ORDER BY doc_id""",

    // the winnow pipeline's end use re-derived: fingerprint-set pairs
    // (the q_winnow_pairs edge condition), recursive-CTE components,
    // min-id representative survives
    "q_winnow_survivors" ->
      s"""WITH RECURSIVE ${winnowCtes(WinnowK, WinnowW)},
dfp AS (SELECT DISTINCT doc_id, fp FROM wfp),
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM dfp a JOIN dfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id),
lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT dd.doc_id, dd.lang FROM documents dd
WHERE dd.doc_id NOT IN (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
ORDER BY dd.doc_id""",

    // exact integer packing arithmetic re-derived over the same token
    // counts; constants shared with the closure (SeqPackBudget/Shards)
    "q_seq_pack" ->
      s"""WITH tc AS (
  SELECT doc_id,
    CAST(len(${toksArrSql()}) AS BIGINT) AS n_tokens,
    CAST(doc_id % $SeqPackShards AS INT) AS shard
  FROM documents),
cum AS (
  SELECT doc_id, shard, n_tokens,
    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM tc)
SELECT doc_id, shard, n_tokens,
  CAST(start_tok // $SeqPackBudget AS BIGINT) AS seq_id,
  CAST(start_tok % $SeqPackBudget AS BIGINT) AS seq_offset
FROM cum ORDER BY doc_id""",

    // unigram model + scoring fully re-derived: p(w) from the corpus
    // itself, per-doc mean -log2 p; round(6) absorbs log/libm ulp noise
    "q_perplexity" ->
      s"""WITH tok AS ($tokSql),
v AS (SELECT token, count(*) AS n_w FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n FROM v)
SELECT doc_id, count(*) AS n_tokens,
  round(-sum(log2(CAST(n_w AS DOUBLE) / (SELECT n FROM tot))) / count(*), 6) AS bits_per_token
FROM tok JOIN v USING (token)
GROUP BY doc_id ORDER BY doc_id""",

    // the Gopher rule bundle re-derived: same whitespace words/lines,
    // same ratios, same conjunction (stop list inlined from the shared
    // constant)
    "q_gopher_rules" -> {
      val stops = graft.text.GopherRules.GopherStopwords
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'), s -> s <> '') AS words,
    list_filter(regexp_split_to_array(coalesce(text, ''), '\\n'), l -> trim(l) <> '') AS lines,
    coalesce(text, '') AS t
  FROM documents),
m AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS DOUBLE)
      / greatest(len(words), 1) AS mean_word_len,
    (CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE)
      + CAST(length(t) - length(replace(t, '...', '')) AS DOUBLE) / 3
      + CAST(length(t) - length(replace(t, '…', '')) AS DOUBLE))
      / greatest(len(words), 1) AS symbol_ratio,
    CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^([-*•‣▪])'))) AS DOUBLE)
      / greatest(len(lines), 1) AS bullet_frac,
    CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)
      / greatest(len(lines), 1) AS ellipsis_frac,
    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      / greatest(len(words), 1) AS alpha_frac,
    CAST(len(list_intersect(list_transform(words, x -> lower(x)), $stops)) AS BIGINT) AS stop_hits
  FROM w)
SELECT doc_id, n_words,
  round(mean_word_len, 6) AS mean_word_len,
  round(symbol_ratio, 6) AS symbol_ratio,
  round(bullet_frac, 6) AS bullet_frac,
  round(ellipsis_frac, 6) AS ellipsis_frac,
  round(alpha_frac, 6) AS alpha_frac,
  stop_hits,
  ((n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
    AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
FROM m ORDER BY doc_id"""
    },

    // CCNet terciles re-derived: the q_perplexity scoring CTE feeding
    // the same lang-partitioned ntile over the same total order
    "q_ccnet_buckets" ->
      s"""WITH tok AS ($tokSql),
v AS (SELECT token, count(*) AS n_w FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n FROM v),
scored AS (
  SELECT doc_id, round(-sum(log2(CAST(n_w AS DOUBLE) / (SELECT n FROM tot))) / count(*), 6) AS bits_per_token
  FROM tok JOIN v USING (token)
  GROUP BY doc_id),
b AS (
  SELECT d.doc_id, d.lang, s.bits_per_token,
    ntile(3) OVER (PARTITION BY d.lang ORDER BY s.bits_per_token, d.doc_id) AS tercile
  FROM documents d JOIN scored s USING (doc_id))
SELECT doc_id, lang, bits_per_token,
  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM b ORDER BY doc_id""",

    // saved == fresh: the artifact round-trip answers the q_perplexity oracle
    "q_perplexity_saved" ->
      s"""WITH tok AS ($tokSql),
v AS (SELECT token, count(*) AS n_w FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n FROM v)
SELECT doc_id, count(*) AS n_tokens,
  round(-sum(log2(CAST(n_w AS DOUBLE) / (SELECT n FROM tot))) / count(*), 6) AS bits_per_token
FROM tok JOIN v USING (token)
GROUP BY doc_id ORDER BY doc_id""",

    // interpolated bigram LM fully re-derived: adjacency via lag, both
    // count tables from the same stream, λ/(1−λ) as exact literals
    "q_perplexity_bigram" ->
      s"""WITH t AS (
  SELECT doc_id, ${toksArrSql()} AS toks
  FROM documents),
tok AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS token FROM t),
adj AS (
  SELECT doc_id, pos, token,
    lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM tok),
v AS (SELECT token, count(*) AS n_w FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n FROM v),
bc AS (
  SELECT prev AS w1, token AS w2, count(*) AS n_ab
  FROM adj WHERE prev IS NOT NULL GROUP BY 1, 2),
bm AS (SELECT w1, w2, n_ab, sum(n_ab) OVER (PARTITION BY w1) AS n_a FROM bc),
p AS (
  SELECT adj.doc_id,
    CASE WHEN adj.prev IS NULL
         THEN CAST(v.n_w AS DOUBLE) / (SELECT n FROM tot)
         ELSE $BigramLambda * (CAST(bm.n_ab AS DOUBLE) / bm.n_a)
            + ${1.0 - BigramLambda} * (CAST(v.n_w AS DOUBLE) / (SELECT n FROM tot)) END AS p
  FROM adj
  JOIN v USING (token)
  LEFT JOIN bm ON bm.w1 = adj.prev AND bm.w2 = adj.token)
SELECT doc_id, count(*) AS n_tokens,
  round(-sum(log2(p)) / count(*), 6) AS bits_per_token
FROM p GROUP BY doc_id ORDER BY doc_id""",

    // interpolated trigram LM fully re-derived: two lags, three count
    // tables, margins as partitioned windows, λ terms multiplied in the
    // engine's left-assoc order with Scala-computed derived weights
    "q_perplexity_trigram" ->
      s"""WITH t AS (
  SELECT doc_id, ${toksArrSql()} AS toks FROM documents),
tok AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS token FROM t),
adj AS (
  SELECT doc_id, pos, token,
    lag(token) OVER w AS prev,
    lag(token, 2) OVER w AS prev2
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
v AS (SELECT token, count(*) AS n_w FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n FROM v),
bc AS (
  SELECT prev AS w1, token AS w2, count(*) AS n_ab
  FROM adj WHERE prev IS NOT NULL GROUP BY 1, 2),
bm AS (SELECT w1, w2, n_ab, sum(n_ab) OVER (PARTITION BY w1) AS n_a FROM bc),
tc AS (
  SELECT prev2 AS u, prev AS v2, token AS w, count(*) AS n_abc
  FROM adj WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3),
tm AS (SELECT u, v2, w, n_abc, sum(n_abc) OVER (PARTITION BY u, v2) AS n_uv FROM tc),
p AS (
  SELECT adj.doc_id,
    CASE WHEN adj.prev IS NULL
         THEN CAST(v.n_w AS DOUBLE) / (SELECT n FROM tot)
         WHEN adj.prev2 IS NULL
         THEN $TrigramL2 * (CAST(bm.n_ab AS DOUBLE) / bm.n_a)
            + ${1.0 - TrigramL2} * (CAST(v.n_w AS DOUBLE) / (SELECT n FROM tot))
         ELSE $TrigramL3 * (CAST(tm.n_abc AS DOUBLE) / tm.n_uv)
            + $TrigramL2 * (CAST(bm.n_ab AS DOUBLE) / bm.n_a)
            + ${1.0 - TrigramL3 - TrigramL2} * (CAST(v.n_w AS DOUBLE) / (SELECT n FROM tot)) END AS p
  FROM adj
  JOIN v USING (token)
  LEFT JOIN bm ON bm.w1 = adj.prev AND bm.w2 = adj.token
  LEFT JOIN tm ON tm.u = adj.prev2 AND tm.v2 = adj.prev AND tm.w = adj.token)
SELECT doc_id, count(*) AS n_tokens,
  round(-sum(log2(p)) / count(*), 6) AS bits_per_token
FROM p GROUP BY doc_id ORDER BY doc_id""",

    // position-indexed hashed token ids: FNV-1a re-derived per token
    // (HUGEINT wrap-around → signed → Java pmod), mod the shared EncodeDim
    "q_encode_ids" ->
      s"""WITH t AS (
  SELECT doc_id, ${toksArrSql()} AS toks
  FROM documents),
tok AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos1, unnest(toks) AS token FROM t),
h AS (
  SELECT doc_id, pos1, ${toSigned64(fnvSql("token"))} AS sh FROM tok)
SELECT doc_id, CAST(pos1 - 1 AS BIGINT) AS pos,
  CAST(((sh % $EncodeDim) + $EncodeDim) % $EncodeDim AS BIGINT) AS token_id
FROM h ORDER BY doc_id, pos""",

    // Naive Bayes re-derived end-to-end: hashed ids (the q_encode_ids
    // arithmetic), conditional per-class counts, Laplace log-ratio sum,
    // doc-count prior — round(6) absorbs libm/accumulation-order ulps
    // (the q_perplexity contract); pred binds to the rounded llr
    "q_quality_clf" ->
      s"""WITH t AS (
  SELECT doc_id, lang, ${toksArrSql()} AS toks FROM documents),
tok AS (SELECT doc_id, lang, unnest(toks) AS token FROM t),
h AS (
  SELECT doc_id, lang, ((sh % $EncodeDim) + $EncodeDim) % $EncodeDim AS tid
  FROM (SELECT doc_id, lang, ${toSigned64(fnvSql("token"))} AS sh FROM tok)),
c AS (
  SELECT tid,
    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n1,
    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS n0
  FROM h GROUP BY 1),
tot AS (SELECT CAST(sum(n1) AS DOUBLE) AS np, CAST(sum(n0) AS DOUBLE) AS nn FROM c),
pr AS (
  SELECT ln(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
          / sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)) AS prior
  FROM documents),
s AS (
  SELECT h.doc_id, count(*) AS n_tokens,
    sum(ln(c.n1 + 1.0) - ln(tot.np + $EncodeDim)
      - (ln(c.n0 + 1.0) - ln(tot.nn + $EncodeDim))) AS delta
  FROM h JOIN c USING (tid) CROSS JOIN tot GROUP BY 1)
SELECT doc_id, n_tokens,
  round(pr.prior + delta, 6) AS llr,
  round(pr.prior + delta, 6) > 0 AS pred
FROM s CROSS JOIN pr ORDER BY doc_id""",

    // DSIR re-derived end-to-end: elementwise bigrams (the decontaminate
    // range pattern at n=2), hashed ids, two Laplace models, per-doc
    // log-ratio sum
    "q_importance" ->
      s"""WITH t AS (
  SELECT doc_id, lang, ${toksArrSql()} AS toks FROM documents),
g AS (
  SELECT doc_id, lang,
    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM t),
h AS (
  SELECT doc_id, lang, ((sh % $EncodeDim) + $EncodeDim) % $EncodeDim AS gid
  FROM (SELECT doc_id, lang, ${toSigned64(fnvSql("gram"))} AS sh FROM g)),
tc AS (SELECT gid, count(*) AS n_t FROM h WHERE lang = 'en' GROUP BY 1),
rc AS (SELECT gid, count(*) AS n_r FROM h GROUP BY 1),
tt AS (
  SELECT CAST((SELECT coalesce(sum(n_t), 0) FROM tc) AS DOUBLE) AS nt,
         CAST((SELECT coalesce(sum(n_r), 0) FROM rc) AS DOUBLE) AS nr)
SELECT h.doc_id, count(*) AS n_grams,
  round(sum(ln(coalesce(tc.n_t, 0) + 1.0) - ln(tt.nt + $EncodeDim)
    - (ln(rc.n_r + 1.0) - ln(tt.nr + $EncodeDim))), 6) AS log_weight
FROM h JOIN rc USING (gid) LEFT JOIN tc USING (gid) CROSS JOIN tt
GROUP BY 1 ORDER BY 1""",

    // curation flagship fully re-derived: whitespace-token quality gate
    // (the qualitySql formulation), tokenizer-token dup fraction (the
    // repetition formulation), then the unigram LM trained on the GATED
    // population and its own quantile_disc(0.9) band (percentile_disc —
    // the engine's distributed-sort selection semantics) — three
    // different tokenizations, exactly as the engine composes them
    "q_curation_pipeline" ->
      s"""WITH wq AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), s -> s <> '') AS wtoks,
    ${toksArrSql()} AS rtoks
  FROM documents),
gated AS (
  SELECT doc_id FROM wq
  WHERE CAST(len(wtoks) AS BIGINT) >= 10
    AND len(list_filter(wtoks, x -> list_contains(${sqlList(TextAnalysis.EnStopwords)}, x))) >= 1
    AND (CASE WHEN len(rtoks) > 0
              THEN 1.0 - CAST(len(list_distinct(rtoks)) AS DOUBLE) / len(rtoks)
              ELSE 0.0 END) <= $CurationDupFracMax),
tok AS (
  SELECT doc_id, token FROM ($tokSql)
  WHERE doc_id IN (SELECT doc_id FROM gated)),
v AS (SELECT token, count(*) AS n_w FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n FROM v),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
    round(-sum(log2(CAST(n_w AS DOUBLE) / (SELECT n FROM tot))) / count(*), 6) AS bits_per_token
  FROM tok JOIN v USING (token)
  GROUP BY doc_id),
thr AS (SELECT quantile_disc(bits_per_token, 0.9) AS p90 FROM scored)
SELECT doc_id, n_tokens, bits_per_token FROM scored
WHERE bits_per_token <= (SELECT p90 FROM thr)
ORDER BY doc_id""",

    // the mixture gate re-derived: same seeded FNV-1a of the id string,
    // same rate table (shared MixRates/MixDefault constants)
    "q_domain_mix" -> {
      val cases = MixRates.toSeq.sorted
        .map { case (d, r) => s"WHEN '$d' THEN $r" }
        .mkString(" ")
      s"""WITH g AS (
  SELECT doc_id, lang,
    ${toSigned64(fnvSql("'mix:' || CAST(doc_id AS VARCHAR)"))} AS sh
  FROM documents)
SELECT doc_id, lang FROM g
WHERE ((sh % 1000) + 1000) % 1000 <
  CAST((CASE lang $cases ELSE $MixDefault END) * 1000 AS BIGINT)
ORDER BY doc_id"""
    },

    // temperature mixture re-derived: same counts, sqrt weights, a
    // sorted-order list_reduce normalizer, identical left-assoc rate
    // arithmetic — thresholds match bitwise, then the same integer gate
    "q_domain_mix_temp" ->
      s"""WITH nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
c AS (SELECT lang AS d, CAST(count(*) AS DOUBLE) AS cnt FROM documents GROUP BY 1),
w AS (SELECT d, cnt, sqrt(cnt / (SELECT n FROM nn)) AS wt FROM c),
z AS (SELECT list_reduce(list(wt ORDER BY d), (a, b) -> a + b) AS zz FROM w),
thr AS (
  SELECT d,
    CAST(floor(least($MixTempFrac * (SELECT n FROM nn) * wt / (SELECT zz FROM z) / cnt, 1.0)
               * 1000000.0) AS BIGINT) AS t
  FROM w),
g AS (
  SELECT doc_id, lang,
    ((sh % 1000000) + 1000000) % 1000000 AS gate
  FROM (SELECT doc_id, lang,
          ${toSigned64(fnvSql("'mixt:' || CAST(doc_id AS VARCHAR)"))} AS sh
        FROM documents))
SELECT doc_id, lang FROM g JOIN thr ON thr.d = g.lang
WHERE gate < t ORDER BY doc_id""",

    "q_embed_neardup" -> embedNearDupSql,

    // cached == uncached: the cache-path query answers the SAME oracle as
    // the plain tokenize query
    "q_tokenize_cached" ->
      s"SELECT doc_id, token FROM ($tokSql) ORDER BY doc_id, token",

    // typed token cache: same contract, same oracle
    "q_token_cached" ->
      s"SELECT doc_id, token FROM ($tokSql) ORDER BY doc_id, token",

    // embedding cache over the FnvDigitModel fixture: component d is
    // base-97 digit d of the text's unsigned FNV-1a 64, re-derived with
    // HUGEINT division (exact integers — no float pooling to drift)
    "q_embed_cached" -> embedFixtureOracleSql,

    // the embed ENGINE answers the same fixture re-derivation as the
    // cache layer over it — by construction (one model, one math)
    "q_embed_fixture" -> embedFixtureOracleSql,

    // full-table engine pass: dim + L2 norm of the fixture vector per doc
    // with passenger columns — digits ≤ 96 ⇒ Σv² is an exact integer in
    // double, so sum order cannot drift and sqrt/round agree bitwise
    "q_embed_docs" -> {
      val dims = (0 until EmbedFixtureDim)
        .map(d => s"($d, ${BigInt(97).pow(d)})").mkString(", ")
      s"""WITH h AS (
  SELECT doc_id, lang, source, ${fnvSql("coalesce(text,'')")} AS u FROM documents),
dims(dim, p) AS (VALUES $dims),
v AS (
  SELECT doc_id, lang, source,
    CAST((u // CAST(p AS HUGEINT)) % 97 AS DOUBLE) AS v
  FROM h CROSS JOIN dims)
SELECT doc_id, lang, source, CAST($EmbedFixtureDim AS BIGINT) AS emb_dim,
  round(sqrt(sum(v * v)), 4) AS emb_norm
FROM v GROUP BY doc_id, lang, source ORDER BY doc_id"""
    },

    // nested variant: DuckDB re-splits the doc on ' the ', drops empty
    // segments, and re-derives each SEGMENT's fixture vector — the
    // parallel unnest pins posexplode's index alignment, so a regroup
    // bug lands on the wrong seg_idx and hash-mismatches
    "q_embed_nested" -> {
      val dims = (0 until EmbedFixtureDim)
        .map(d => s"($d, ${BigInt(97).pow(d)})").mkString(", ")
      s"""WITH segs AS (
  SELECT doc_id,
    unnest(list_filter(str_split(text, ' the '), x -> x <> '')) AS seg,
    unnest(range(0, len(list_filter(str_split(text, ' the '), x -> x <> '')))) AS seg_idx
  FROM documents WHERE text IS NOT NULL),
h AS (SELECT doc_id, seg_idx, ${fnvSql("seg")} AS u FROM segs),
dims(dim, p) AS (VALUES $dims),
v AS (
  SELECT doc_id, seg_idx,
    CAST((u // CAST(p AS HUGEINT)) % 97 AS DOUBLE) AS v
  FROM h CROSS JOIN dims)
SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
  CAST($EmbedFixtureDim AS BIGINT) AS emb_dim,
  round(sqrt(sum(v * v)), 4) AS emb_norm
FROM v GROUP BY doc_id, seg_idx ORDER BY doc_id, seg_idx"""
    },

    "q_features" -> {
      val vals = graft.Features.compiledFeatures.toSeq.sorted
        .map(f => s"('$f', true)").mkString(", ")
      s"SELECT feature, compiled FROM (VALUES $vals) AS t(feature, compiled) " +
        "ORDER BY feature"
    },

    // model inventory from the same shared constant the engine serves
    "q_models" -> {
      val vals = TokenizerModels.inventory.toSeq.sortBy(_._1)
        .flatMap { case (m, langs) => langs.sorted.map(l => s"('$m', '$l')") }
        .mkString(", ")
      s"SELECT model_id, lang FROM (VALUES $vals) AS t(model_id, lang) " +
        "ORDER BY model_id, lang"
    },

    "q_sessions" ->
      """WITH o AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts, value,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(max(ts) + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS sum_value
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",

    // identical semantics, genuinely-streamed execution
    "q_stream_sessions" ->
      """WITH o AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts, value,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(max(ts) + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS sum_value
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",

    "q_region_revenue" ->
      """SELECT r_name, n_name,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS revenue,
  count(*) AS n_items
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_top_orders_per_cust" ->
      """SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
  FROM orders)
WHERE rank <= 3 ORDER BY o_custkey, rank""",

    "q_media_meta" -> mediaMetaSql,

    // real-image round trip: expected dims as literals (the engine
    // re-derives them from actual PNG headers; the corrupt row pins the
    // explicit undecodable marker)
    "q_media_image_meta" -> {
      val vals = (ImageFixtureDims.map { case (id, w, h) =>
        s"($id, $w, $h, 1, $ImageResizeW, $ImageResizeH)"
      } :+ s"(99, -1, -1, 0, -1, -1)").mkString(", ")
      s"""SELECT CAST(img_id AS BIGINT) AS img_id,
  CAST(width AS INT) AS width, CAST(height AS INT) AS height,
  CAST(n_frames AS INT) AS n_frames,
  CAST(rs_width AS INT) AS rs_width, CAST(rs_height AS INT) AS rs_height
FROM (VALUES $vals) AS t(img_id, width, height, n_frames, rs_width, rs_height)
ORDER BY img_id"""
    },

    "q_topic_stage_timings" -> {
      val vals = (TopicStageNames.zipWithIndex.map { case (s, i) => s"($i, '$s', true)" } :+
        s"(${TopicStageNames.length}, '_total_covers_parts', true)").mkString(", ")
      s"""SELECT CAST(idx AS BIGINT) AS idx, stage, ok
FROM (VALUES $vals) AS t(idx, stage, ok) ORDER BY idx"""
    },

    "q_media_audio_meta" -> {
      val vals = (AudioFixtureClips.flatMap { case (id, rate, ch, frames) =>
        def row(part: String, f: Int) =
          s"($id, '$part', $rate, $ch, $f, ${f.toLong * 1000L / rate}, 0.5)"
        row("full", frames) +: (0 until AudioSegments).map { i =>
          val from = i.toLong * frames / AudioSegments
          val until = (i + 1).toLong * frames / AudioSegments
          row(s"seg$i", (until - from).toInt)
        }
      } :+ "(99, 'full', -1, -1, 0, 0, 0.0)").mkString(", ")
      s"""SELECT CAST(clip_id AS BIGINT) AS clip_id, part,
  CAST(sample_rate AS INT) AS sample_rate, CAST(channels AS INT) AS channels,
  CAST(n_frames AS INT) AS n_frames, CAST(duration_ms AS BIGINT) AS duration_ms,
  CAST(rms AS DOUBLE) AS rms
FROM (VALUES $vals) AS t(clip_id, part, sample_rate, channels, n_frames, duration_ms, rms)
ORDER BY clip_id, part"""
    },

    "q_embed_transformer" ->
      """SELECT doc_id, CAST(32 AS BIGINT) AS emb_dim, 1.0 AS emb_norm
FROM documents
WHERE doc_id < 50 AND length(trim(coalesce(text, ''))) > 0
ORDER BY doc_id""",

    "q_media_video_meta" -> {
      val vals = (VideoFixtureClips.flatMap { case (id, w, h, n, delayCs) =>
        val take = math.min(VideoSampleFrames, n)
        s"($id, 'full', $w, $h, $n, ${n.toLong * delayCs * 10L})" +:
          (0 until take).map(i => s"($id, 'frame$i', $w, $h, 1, 0)")
      } :+ "(99, 'full', -1, -1, 0, 0)").mkString(", ")
      s"""SELECT CAST(vid_id AS BIGINT) AS vid_id, part,
  CAST(width AS INT) AS width, CAST(height AS INT) AS height,
  CAST(n_frames AS INT) AS n_frames, CAST(duration_ms AS BIGINT) AS duration_ms
FROM (VALUES $vals) AS t(vid_id, part, width, height, n_frames, duration_ms)
ORDER BY vid_id, part"""
    },

    "q_media_features" -> mediaFeaturesSql,

    // resized length = floor(len * (256*256 / (w*h))) clamped to [1, len],
    // with w/h re-derived exactly as in q_media_meta
    "q_media_resize" ->
      s"""WITH h AS (
  SELECT doc_id, ${fnvSql("coalesce(text,'')")} AS u, length(coalesce(text, '')) AS len FROM documents),
s AS (
  SELECT doc_id, u, len,
    CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS sh
  FROM h),
d AS (
  SELECT doc_id, len,
    CAST(64 + ((sh % 1920) + 1920) % 1920 AS BIGINT) AS w,
    CAST(64 + (u // 65536) % 1080 AS BIGINT) AS hh
  FROM s)
SELECT doc_id, CAST(len AS BIGINT) AS orig_bytes,
  CASE WHEN len = 0 THEN CAST(0 AS BIGINT)
       ELSE greatest(1, least(len, CAST(floor(len * (CAST(256 * 256 AS DOUBLE) / (w * hh))) AS BIGINT)))
  END AS resized_bytes
FROM d ORDER BY doc_id""",

    "q_media_frames" ->
      """WITH t AS (SELECT doc_id, length(coalesce(text, '')) AS len FROM documents),
n AS (SELECT doc_id, len, least(8, greatest(1, len // 8)) AS nf FROM t WHERE len > 0),
f AS (SELECT doc_id, len, nf, unnest(range(0, CAST(nf AS INT))) AS frame_idx FROM n)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
  CAST(((frame_idx + 1) * len) // nf - (frame_idx * len) // nf AS BIGINT) AS frame_bytes
FROM f ORDER BY doc_id, frame_idx""",

    // resample+ffill replay: same deterministic last-per-slot pick
    // (ts DESC, event_id DESC), generate_series grid, IGNORE NULLS fill
    "q_resample_daily" ->
      """WITH slotted AS (
  SELECT user_id, date_trunc('day', ts) AS slot, value,
    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
lastv AS (SELECT user_id, slot, value FROM slotted WHERE rn = 1),
b AS (SELECT user_id, min(slot) AS t0, max(slot) AS t1 FROM lastv GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 DAY)) AS slot FROM b)
SELECT g.user_id, strftime(g.slot, '%Y-%m-%d') AS day,
  round(last_value(l.value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.slot), 6) AS value,
  l.value IS NOT NULL AS observed
FROM grid g LEFT JOIN lastv l ON l.user_id = g.user_id AND l.slot = g.slot
ORDER BY g.user_id, day""",

    // rolling mean over the same filled series (fill first, then avg —
    // both unrounded until the final output)
    "q_moving_avg" ->
      """WITH slotted AS (
  SELECT user_id, date_trunc('day', ts) AS slot, value,
    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
lastv AS (SELECT user_id, slot, value FROM slotted WHERE rn = 1),
b AS (SELECT user_id, min(slot) AS t0, max(slot) AS t1 FROM lastv GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 DAY)) AS slot FROM b),
filled AS (
  SELECT g.user_id, g.slot,
    last_value(l.value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.slot) AS v
  FROM grid g LEFT JOIN lastv l ON l.user_id = g.user_id AND l.slot = g.slot)
SELECT user_id, strftime(slot, '%Y-%m-%d') AS day,
  round(avg(v) OVER (PARTITION BY user_id ORDER BY slot
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3
FROM filled ORDER BY user_id, day""",

    "q_asof_purchase" ->
      """SELECT l.event_id, l.user_id, r.event_id AS purchase_id, r.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id""",

    "q_range_incidents" ->
      """SELECT l.event_id, l.user_id, r.event_id AS incident_id
FROM (SELECT * FROM events WHERE event_type = 'click') l
JOIN (SELECT * FROM events WHERE event_type = 'error') r
  ON l.user_id = r.user_id
 AND l.ts BETWEEN r.ts - INTERVAL 30 MINUTE AND r.ts + INTERVAL 30 MINUTE
ORDER BY l.event_id, r.event_id""",

    "q_word_quantiles" ->
      """WITH c AS (
SELECT lang,
CAST(CASE WHEN t = '' THEN 0
     WHEN regexp_matches(t, '\s') THEN len(regexp_split_to_array(t, '\s+'))
     WHEN regexp_matches(t, '^[\x{4E00}-\x{9FFF}\x{3400}-\x{4DBF}\x{20000}-\x{2A6DF}\x{3040}-\x{309F}\x{30A0}-\x{30FF}\x{AC00}-\x{D7AF}]+$') THEN length(t)
     ELSE 1 END AS BIGINT) AS word_cnt
FROM (SELECT lang, regexp_replace(coalesce(text, ''), '^\s+|\s+$', '', 'g') AS t FROM documents))
SELECT lang, count(*) AS n_docs,
  round(quantile_cont(word_cnt, 0.5), 6) AS p50_words,
  round(quantile_cont(word_cnt, 0.9), 6) AS p90_words
FROM c GROUP BY lang ORDER BY lang""",

    // Spark's exact percentile == DuckDB quantile_cont (linear
    // interpolation on the sorted values)
    "q_length_gate" ->
      """WITH w AS (
SELECT doc_id,
CAST(CASE WHEN t = '' THEN 0
     WHEN regexp_matches(t, '\s') THEN len(regexp_split_to_array(t, '\s+'))
     WHEN regexp_matches(t, '^[\x{4E00}-\x{9FFF}\x{3400}-\x{4DBF}\x{20000}-\x{2A6DF}\x{3040}-\x{309F}\x{30A0}-\x{30FF}\x{AC00}-\x{D7AF}]+$') THEN length(t)
     ELSE 1 END AS BIGINT) AS wc
FROM (SELECT doc_id, regexp_replace(coalesce(text, ''), '^\s+|\s+$', '', 'g') AS t FROM documents)),
q AS (SELECT quantile_cont(wc, 0.10) AS lo, quantile_cont(wc, 0.99) AS hi FROM w)
SELECT doc_id, wc FROM w, q WHERE wc >= lo AND wc <= hi ORDER BY doc_id""",

    // The engine drops any candidate bucket whose membership exceeds
    // maxBucket WHOLE (PostingLists.members cap) — model that cap here
    // (kept CTE) so the oracle contract keeps holding at scale factors
    // where a lang|source bucket outgrows the cap, instead of silently
    // diverging
    "q_jaccard_pairs" ->
      s"""WITH tok AS (
  SELECT DISTINCT doc_id, bucket, token FROM (
    SELECT doc_id, lang || '|' || source AS bucket,
           unnest(${toksArrSql()}) AS token
    FROM documents)),
kept AS (
  SELECT bucket FROM (SELECT bucket, count(DISTINCT doc_id) AS bn FROM tok GROUP BY 1)
  WHERE bn <= ${graft.util.PostingLists.DefaultMaxBucket}),
ctok AS (SELECT t.* FROM tok t JOIN kept USING (bucket)),
sizes AS (SELECT doc_id, count(*) AS n FROM ctok GROUP BY 1),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM ctok a JOIN ctok b ON a.bucket = b.bucket AND a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
  round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
ORDER BY id_a, id_b""",

    // DuckDB computes the full unbanded DP; the length band makes the
    // threshold filter equivalent to Spark's early-exit banded variant
    "q_edit_pairs" ->
      s"""WITH d AS (
  SELECT doc_id, concat_ws('|', lang, source) AS bucket, coalesce(text, '') AS t
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
FROM d a JOIN d b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE abs(length(a.t) - length(b.t)) <= $EditMaxDistance
  AND levenshtein(a.t, b.t) <= $EditMaxDistance
ORDER BY id_a, id_b""",

    // Cosine in double precision on both sides: float→double is exact and
    // both engines fold the 64-element arrays left-to-right, so the values
    // agree bitwise before rounding.
    "q_knn_cosine" ->
      """SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(row_number() OVER (
      PARTITION BY q.vec_id
      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
               c.vec_id) AS BIGINT) AS rank,
    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
WHERE rank <= 10 ORDER BY query_id, rank""",

    "q_chunking" ->
      """WITH t AS (
  SELECT doc_id, list_filter(string_split(coalesce(text, ''), ' '), s -> s <> '') AS w
  FROM documents),
c AS (
  SELECT doc_id, w, unnest(range(0, CAST(ceil(len(w) / 16.0) AS INT))) AS chunk_idx
  FROM t)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
  array_to_string(w[chunk_idx * 16 + 1 : least((chunk_idx + 1) * 16, len(w))], ' ') AS chunk_text
FROM c ORDER BY doc_id, chunk_idx""",

    "q_ctfidf_topk" ->
      s"""WITH tok AS ($tokSql),
counts AS (SELECT lang AS topic, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
wpt AS (SELECT topic, sum(cnt) AS topic_words FROM counts GROUP BY 1),
cf AS (SELECT token, sum(cnt) AS corpus_freq FROM counts GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) / count(DISTINCT topic) AS avg_words FROM counts),
scored AS (
  SELECT c.topic, c.token,
    (CAST(c.cnt AS DOUBLE) / wpt.topic_words) * ln(1 + tot.avg_words / cf.corpus_freq) AS score
  FROM counts c JOIN wpt USING (topic) JOIN cf USING (token) CROSS JOIN tot),
ranked AS (
  SELECT topic, token, score,
    CAST(row_number() OVER (PARTITION BY topic ORDER BY score DESC, token ASC) AS BIGINT) AS rank
  FROM scored)
SELECT topic, rank, token, round(score, 6) AS score
FROM ranked WHERE rank <= 10 ORDER BY topic, rank""",

    "q_topic_rollup" ->
      s"""WITH tok AS ($tokSql),
chunks AS (SELECT doc_id, CAST(length(token) % 4 - 1 AS INT) AS label FROM tok),
counts AS (SELECT doc_id, label AS topic_id, count(*) AS cnt FROM chunks GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(cnt) AS total FROM counts GROUP BY 1),
dom AS (
  SELECT doc_id, topic_id AS dominant_topic FROM (
    SELECT doc_id, topic_id,
      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, topic_id ASC) AS rn
    FROM counts WHERE topic_id <> -1) WHERE rn = 1)
SELECT c.doc_id, c.topic_id,
  round(CAST(c.cnt AS DOUBLE) / t.total, 6) AS proportion,
  coalesce(d.dominant_topic, -1) AS dominant_topic
FROM counts c
JOIN tot t ON t.doc_id = c.doc_id
LEFT JOIN dom d ON d.doc_id = c.doc_id
ORDER BY c.doc_id, c.topic_id""",

    "q_lang_id" -> langIdSql,
    "q_quality" -> qualitySql,
    "q_stream_curation" -> streamCurationSql,

    // streaming exact dedup == batch DISTINCT on normalized content: the
    // survivor SET is order-free even though which arrival survives is not
    "q_stream_dedup" ->
      """SELECT sha256(t) AS content_hash, CAST(length(t) AS BIGINT) AS char_cnt
FROM (SELECT DISTINCT coalesce(text, '') AS t FROM documents)
ORDER BY content_hash""",

    // the SQL-surface composite: clean + word count + tokenize length +
    // lang-id re-derived from their individually-green formulations
    "q_sql_surface" ->
      s"""WITH base AS (
  SELECT doc_id, lang, coalesce(text, '') AS tx,
    regexp_replace(coalesce(text, ''), '^\\s+|\\s+$$', '', 'g') AS wtrim,
    list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), s -> s <> '') AS toks,
    trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), '[!-/:-@\\[-`{-~0-9]', ' ', 'g'), '\\s+', ' ', 'g')) AS cleaned,
    CAST(len(${toksArrSql()}) AS BIGINT) AS n_toks
  FROM documents),
k AS (
  SELECT doc_id, lang, tx, toks, cleaned, n_toks,
    CAST(CASE WHEN wtrim = '' THEN 0
         WHEN regexp_matches(wtrim, '\\s') THEN len(regexp_split_to_array(wtrim, '\\s+'))
         WHEN regexp_matches(wtrim, '^[\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}\\x{20000}-\\x{2A6DF}\\x{3040}-\\x{309F}\\x{30A0}-\\x{30FF}\\x{AC00}-\\x{D7AF}]+$$') THEN length(wtrim)
         ELSE 1 END AS BIGINT) AS word_cnt
  FROM base)
${langIdPredSql("k", Seq("cleaned", "word_cnt", "n_toks"))}
ORDER BY doc_id""",

    "q_corpus_profile" ->
      s"""WITH base AS (
  SELECT doc_id, lang, ${toksArrSql()} AS toks
  FROM documents)
SELECT
  (SELECT count(*) FROM base) AS n_docs,
  (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT) FROM base) AS n_tokens,
  round((SELECT CAST(coalesce(sum(len(toks)), 0) AS DOUBLE) FROM base)
        / (SELECT count(*) FROM base), 6) AS avg_doc_len,
  (SELECT count(DISTINCT t) FROM (SELECT unnest(toks) AS t FROM base)) AS vocab_size,
  (SELECT count(DISTINCT lang) FROM base) AS n_langs""",

    // vocabulary report re-derived: same counts, same head tie-break
    "q_vocab_report" ->
      s"""WITH tok AS ($tokSql),
c AS (SELECT token, count(*) AS n_w FROM tok GROUP BY 1),
t AS (
  SELECT count(*) AS vocab_size, CAST(sum(n_w) AS BIGINT) AS n_tokens,
    sum(CASE WHEN n_w = 1 THEN 1 ELSE 0 END) AS hapax
  FROM c),
h AS (
  SELECT CAST(coalesce(sum(n_w), 0) AS BIGINT) AS head_mass
  FROM (SELECT n_w FROM c ORDER BY n_w DESC, token LIMIT 100))
SELECT CAST(vocab_size AS BIGINT) AS vocab_size, n_tokens,
  round(CAST(hapax AS DOUBLE) / vocab_size, 6) AS hapax_frac,
  round(CAST(head_mass AS DOUBLE) / n_tokens, 6) AS head_coverage
FROM t, h""",

    // Same scrub patterns (the portable Java/RE2 regex subset), same
    // injected literals, replace-all on both engines.
    "q_scrub" ->
      """SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        text || ' ping bob.smith+x@mail.example.co or https://spark.apache.org/docs?q=a@b.c or www.data.net/x end',
        '(?i)\b(?:https?://|www\.)[^\s]+', '<URL>', 'g'),
      '\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b', '<EMAIL>', 'g'),
    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS scrubbed
FROM documents ORDER BY doc_id""",

    // int8 top-k re-derived: same quantization, integer dot products,
    // scale-free cosine, rank with neighbor tiebreak
    "q_knn_int8" ->
      """WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
  FROM embeddings),
s AS (
  SELECT vec_id, xs,
    list_max(list_transform(xs, x -> abs(x))) / 127.0 AS scale
  FROM v),
qz AS (
  SELECT vec_id,
    CASE WHEN scale > 0.0
         THEN list_transform(xs, x -> CAST(greatest(-127, least(127, CAST(round(x / scale) AS INT))) AS DOUBLE))
         ELSE list_transform(xs, x -> CAST(0 AS DOUBLE)) END AS qv
  FROM s),
n AS (SELECT vec_id, qv, list_inner_product(qv, qv) AS n2 FROM qz)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(row_number() OVER (
      PARTITION BY q.vec_id
      ORDER BY list_inner_product(q.qv, c.qv) / sqrt(q.n2 * c.n2) DESC,
               c.vec_id) AS BIGINT) AS rank,
    round(list_inner_product(q.qv, c.qv) / sqrt(q.n2 * c.n2), 6) AS sim
  FROM n q CROSS JOIN n c
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id AND q.n2 > 0 AND c.n2 > 0)
WHERE rank <= 10 ORDER BY query_id, rank""",

    // int8 quantization re-derived: same max|x|/127 scale, same
    // half-away-from-zero round, same clamp
    "q_quantize_int8" ->
      """WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
  FROM embeddings),
s AS (
  SELECT vec_id, xs,
    list_max(list_transform(xs, x -> abs(x))) / 127.0 AS scale
  FROM v)
SELECT vec_id, round(scale, 6) AS scale,
  CAST(i - 1 AS BIGINT) AS dim,
  CASE WHEN scale > 0.0
       THEN greatest(-127, least(127, CAST(round(x / scale) AS INT)))
       ELSE 0 END AS q
FROM (SELECT vec_id, scale, unnest(xs) AS x, generate_subscripts(xs, 1) AS i FROM s)
ORDER BY vec_id, dim""",

    // Dimension-wise mean per label: engine sums Float→Double widened
    // values and divides by count; avg over CAST AS DOUBLE is the same
    // arithmetic (summation order differs → round(6) + compare epsilon).
    "q_embed_centroids" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS dim, round(avg(CAST(x AS DOUBLE)), 6) AS c
FROM (SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
      FROM embeddings)
GROUP BY label, i ORDER BY label, dim""",

    // BM25 re-derived end-to-end. Float-exactness notes: constants appear
    // as the same IEEE literals/ops as the engine ((1.2 + 1.0), not 2.2 —
    // they differ in the last ulp); the per-doc sum is a list_reduce over
    // term-ordered scores, bit-matching the engine's sorted fold, so
    // exact ties rank identically and the top-20 cut is deterministic.
    "q_bm25_search" -> bm25Sql(),

    // the persisted inverted index serves the same query: shares the
    // in-session oracle (served scores are bit-identical by contract)
    "q_bm25_served" -> bm25Sql(),
    // replace lifecycle: the oracle is an index built DIRECTLY over the
    // corpus with the replacement text — delete→compact→append must be
    // indistinguishable from it
    "q_bm25_replaced" -> bm25Sql(
      textExpr = ReplaceTextSql, terms = Seq("spark", "refreshed")),
    "q_dedup_index_replaced" -> dedupIndexProbeSqlWith("", textExpr =
      "CASE WHEN doc_id % 17 = 3 AND doc_id % 3 <> 0 " +
        "THEN coalesce(text, '') || ' refreshed edition' ELSE text END"),
    "q_bm25_served_batch" -> bm25BatchSql(),

    // exactness THROUGH the MaxScore front end: same batch, same oracle
    "q_bm25_served_batch_pruned" -> bm25BatchSql(),
    // the streamed query log unions to exactly the one-shot batch serve
    "q_stream_bm25_serve" -> bm25BatchSql(),
    "q_bm25_served_batch_delete" -> bm25BatchSql(" WHERE doc_id % 9 <> 4"),

    // ...with a takedown applied: %9==4 tombstoned out. df(t), N and
    // avgdl must ALL reflect the deletion, which the oracle models by
    // removing the docs from the corpus outright — logical-delete
    // serving must equal that rebuilt-without world
    "q_bm25_served_delete" -> bm25Sql(" WHERE doc_id % 9 <> 4"),

    // streaming-ingested index contents equal the one-shot build —
    // shared oracle is the exactly-once claim under the DuckDB gate
    "q_stream_bm25_ingest" -> bm25Sql(),

    // bookkeeping on the %9==4-takedown index: physical doc count,
    // tombstones, distinct (token, doc) posting rows, and the fnv
    // bucket distribution re-derived entirely in SQL (signed-64 view of
    // the fnv stream, same pmod routing as the build)
    "q_bm25_index_stats" ->
      s"""WITH base AS (
  SELECT doc_id, ${toksArrSql()} AS toks FROM documents),
tfs AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(toks) AS term FROM base) GROUP BY 1, 2),
bk AS (
  SELECT ((${toSigned64(fnvSql("term"))} % 16) + 16) % 16 AS b
  FROM tfs),
per AS (SELECT b, count(*) AS n FROM bk GROUP BY 1)
SELECT (SELECT count(*) FROM documents) AS n_docs,
  (SELECT count(*) FROM documents WHERE doc_id % 9 = 4) AS n_tombstones,
  CAST(sum(n) AS BIGINT) AS n_postings,
  count(*) AS n_buckets_used,
  CAST(max(n) AS BIGINT) AS max_bucket_postings
FROM per""",

    // Hybrid RRF: the BM25 chain above cut at poolK=50 + the fixture
    // embedding cosine list — the query vector re-derived IN SQL from the
    // literal query string (nothing exported), cosine exact because the
    // fixture components are small integers (sums exact in double in any
    // order), rrf summed lex-then-sem like the engine.
    "q_hybrid_rrf" ->
      s"""WITH base AS (
  SELECT doc_id, ${toksArrSql()} AS toks
  FROM documents),
tfs AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base)
  GROUP BY 1, 2, 3),
corpus AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
  FROM base),
hits AS (
  SELECT doc_id, term, tf, dl, count(*) OVER (PARTITION BY term) AS df
  FROM tfs WHERE term IN ('spark', 'join', 'window')),
scored AS (
  SELECT h.doc_id, h.term,
    ln(1.0 + (c.n_docs - h.df + 0.5) / (h.df + 0.5))
      * (h.tf * (1.2 + 1.0)) / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / c.avgdl)) AS score_t
  FROM hits h, corpus c),
docs AS (
  SELECT doc_id,
    list_reduce(list(score_t ORDER BY term), (acc, x) -> acc + x) AS score
  FROM scored GROUP BY doc_id),
lex0 AS (
  SELECT doc_id, round(score, 6) AS s FROM docs
  ORDER BY s DESC, doc_id LIMIT 50),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r_lex
  FROM lex0),
dims(dim, p) AS (VALUES ${(0 until EmbedFixtureDim)
        .map(d => s"($d, ${BigInt(97).pow(d)})").mkString(", ")}),
h AS (SELECT doc_id, ${fnvSql("coalesce(text,'')")} AS u FROM documents),
v AS (
  SELECT doc_id, dim, CAST((u // CAST(p AS HUGEINT)) % 97 AS DOUBLE) AS v
  FROM h CROSS JOIN dims),
qh AS (SELECT ${fnvSql("'spark join window'")} AS u),
qv AS (
  SELECT dim, CAST((u // CAST(p AS HUGEINT)) % 97 AS DOUBLE) AS v
  FROM qh CROSS JOIN dims),
cs AS (
  SELECT a.doc_id,
    sum(a.v * b.v) / (sqrt(sum(a.v * a.v)) * sqrt(sum(b.v * b.v))) AS cos
  FROM v a JOIN qv b USING (dim) GROUP BY a.doc_id),
sem0 AS (
  SELECT doc_id, round(cos, 6) AS s FROM cs
  ORDER BY s DESC, doc_id LIMIT 50),
sem AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r_sem
  FROM sem0)
SELECT coalesce(l.doc_id, m.doc_id) AS doc_id, l.r_lex, m.r_sem,
  round(coalesce(1.0 / (60 + l.r_lex), 0.0)
      + coalesce(1.0 / (60 + m.r_sem), 0.0), 6) AS rrf
FROM lex l FULL JOIN sem m ON m.doc_id = l.doc_id
ORDER BY rrf DESC, doc_id LIMIT 20""",

    // Repetition metrics re-derived relationally: list-level metrics from
    // the token array; the top-word count and the longest consecutive run
    // via unnest-with-subscripts (gap-islands for runs).
    "q_repetition" ->
      s"""WITH base AS (
  SELECT doc_id, ${toksArrSql()} AS toks
  FROM documents),
lists AS (
  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
    list_transform(range(1, greatest(len(toks), 1)), i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
  FROM base),
tok AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i FROM base),
grp AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w),
topw AS (SELECT doc_id, max(cnt) AS top_cnt FROM grp GROUP BY doc_id),
runs AS (
  SELECT doc_id, max(runlen) AS max_run FROM (
    SELECT doc_id, count(*) AS runlen
    FROM (SELECT doc_id, w, i - row_number() OVER (PARTITION BY doc_id, w ORDER BY i) AS isl FROM tok)
    GROUP BY doc_id, w, isl)
  GROUP BY doc_id)
SELECT l.doc_id,
  CAST(l.n AS BIGINT) AS n_words,
  round(CASE WHEN l.n > 0 THEN 1.0 - CAST(l.nd AS DOUBLE) / l.n ELSE 0.0 END, 6) AS dup_word_frac,
  round(CASE WHEN l.n > 0 THEN CAST(t.top_cnt AS DOUBLE) / l.n ELSE 0.0 END, 6) AS top_word_frac,
  round(CASE WHEN len(l.bigrams) > 0 THEN 1.0 - CAST(len(list_distinct(l.bigrams)) AS DOUBLE) / len(l.bigrams) ELSE 0.0 END, 6) AS dup_bigram_frac,
  CAST(coalesce(r.max_run, 0) AS BIGINT) AS max_word_run
FROM lists l LEFT JOIN topw t USING (doc_id) LEFT JOIN runs r USING (doc_id)
ORDER BY l.doc_id""",
    "q_clean_pipeline" -> cleanPipelineSql,

    "q_orders_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
  coalesce(o_orderpriority, 'ALL') AS priority,
  count(*) AS n_orders,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority""",

    "q_fingerprint" ->
      """WITH c AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), '[!-/:-@\[-`{-~0-9]', ' ', 'g'), '\s+', ' ', 'g')) AS clean
  FROM documents)
SELECT doc_id,
  CAST(CASE WHEN length(clean) = 0 THEN 0 ELSE
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(regexp_split_to_array(clean, ''), ch -> CAST(unicode(ch) AS BIGINT))),
      (acc, x) -> (acc * 31 + x) % 1000000007)
  END AS BIGINT) AS fingerprint
FROM c ORDER BY doc_id""")

  /** Full re-derivation of the stub media decode: FNV-1a over the UTF-8
    * payload bytes (== code points on this ASCII corpus), then the same
    * floorMod/shift arithmetic as `FakeDecoder.decode`, with unsigned
    * shifts as HUGEINT division and Java `floorMod` as `((x%m)+m)%m` on
    * the signed value. */
  private def mediaMetaSql: String =
    s"""WITH h AS (
  SELECT doc_id, source, ${fnvSql("coalesce(text,'')")} AS u FROM documents),
s AS (
  SELECT doc_id, source, u,
    CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS sh
  FROM h)
SELECT doc_id,
  'media/' || source AS mime,
  CAST(64 + ((sh % 1920) + 1920) % 1920 AS INT) AS width,
  CAST(64 + (u // 65536) % 1080 AS INT) AS height,
  CAST(1 + (u // 4294967296) % 32 AS INT) AS n_frames,
  CAST((u // 16777216) % 60000 AS BIGINT) AS duration_ms
FROM s ORDER BY doc_id"""

  /** CTE chain re-deriving the winnowing selection as
    * `wfp(doc_id, pos, fp)` — shared by the fingerprint dump and the
    * pairs oracle. */
  private def winnowCtes(k: Int, w: Int): String =
    s"""t AS (
  SELECT doc_id, ${toksArrSql()} AS toks FROM documents),
sh AS (
  SELECT doc_id,
    unnest(range(0, greatest(len(toks) - $k + 1, 0))) AS start,
    unnest(list_transform(range(0, greatest(len(toks) - $k + 1, 0)),
      i -> ${toSigned64(fnvSql(s"array_to_string(toks[i+1:i+$k], ' ')"))})) AS key
  FROM t),
ks AS (SELECT doc_id, list(key ORDER BY start) AS h, count(*) AS m FROM sh GROUP BY doc_id),
sel AS (
  SELECT doc_id,
    list_transform(range(0, CASE WHEN m > $w THEN m - $w + 1 ELSE 1 END),
      j -> list_reduce(
        list_transform(range(j + 1, least(j + $w, m) + 1),
          p -> struct_pack(p := p, v := h[p])),
        (a, b) -> CASE WHEN struct_extract(b, 'v') <= struct_extract(a, 'v')
                       THEN b ELSE a END)) AS sels
  FROM ks),
f AS (
  SELECT doc_id, unnest(sels) AS s, generate_subscripts(sels, 1) AS si, sels
  FROM sel),
wfp AS (
  SELECT doc_id,
    CAST(struct_extract(s, 'p') - 1 AS INT) AS pos,
    CAST(struct_extract(s, 'v') AS BIGINT) AS fp
  FROM f
  WHERE si = 1 OR struct_extract(s, 'p') <> struct_extract(sels[si - 1], 'p'))"""

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Lang-id prediction re-derived in SQL from the same marker constants
    * as the engine so the two can never drift. `sourceCte` must expose
    * `doc_id, lang, tx, toks` plus any `extra` passthrough columns. */
  private def langIdPredSql(sourceCte: String, extra: Seq[String]): String = {
    val hitCols = TextAnalysis.MarkerLangs.map { l =>
      s"len(list_filter(toks, x -> list_contains(${sqlList(TextAnalysis.Markers(l))}, x))) AS h_$l"
    }.mkString(",\n    ")
    val markerCases = TextAnalysis.MarkerLangs.map { l =>
      val geOthers = TextAnalysis.MarkerLangs.filterNot(_ == l)
        .map(o => s"h_$l >= h_$o").mkString(" AND ")
      s"WHEN h_$l > 0 AND $geOthers THEN '$l'"
    }.mkString("\n    ")
    val extras = extra.map(c => s", $c").mkString
    s"""SELECT doc_id, lang$extras,
  CASE WHEN kana > 0 THEN 'ja'
       WHEN hangul > 0 THEN 'ko'
       WHEN han > 0 AND han * 10 >= n * 3 THEN 'zh'
    $markerCases
    ELSE 'und' END AS pred_lang
FROM (
  SELECT doc_id, lang$extras, length(tx) AS n,
    length(tx) - length(regexp_replace(tx, '[\\x{3040}-\\x{30FF}]', '', 'g')) AS kana,
    length(tx) - length(regexp_replace(tx, '[\\x{AC00}-\\x{D7AF}]', '', 'g')) AS hangul,
    length(tx) - length(regexp_replace(tx, '[\\x{4E00}-\\x{9FFF}]', '', 'g')) AS han,
    $hitCols
  FROM $sourceCte)"""
  }

  private def langIdSql: String =
    s"""WITH t AS (
  SELECT doc_id, lang, coalesce(text, '') AS tx,
    list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), s -> s <> '') AS toks
  FROM documents)
${langIdPredSql("t", Nil)}
ORDER BY doc_id"""

  /** The cleaning-pipeline oracle: quality keep-gate → first-copy exact
    * dedup → lang-id, the same three stages the engine composes lazily. */
  private def cleanPipelineSql: String =
    s"""WITH t AS (
  SELECT doc_id, lang, coalesce(text, '') AS tx,
    list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), s -> s <> '') AS toks
  FROM documents),
q AS (
  SELECT * FROM t
  WHERE CAST(len(toks) AS BIGINT) >= 10
    AND len(list_filter(toks, x -> list_contains(${sqlList(TextAnalysis.EnStopwords)}, x))) >= 1),
d AS (
  SELECT doc_id, lang, tx, toks,
    row_number() OVER (PARTITION BY sha256(tx) ORDER BY doc_id) AS dup_rank,
    CAST(count(*) OVER (PARTITION BY sha256(tx)) AS BIGINT) AS n_copies
  FROM q),
k AS (SELECT doc_id, lang, tx, toks, n_copies FROM d WHERE dup_rank = 1)
${langIdPredSql("k", Seq("n_copies"))}
ORDER BY doc_id"""

  /** Streamed curation gate == batch gate: whitespace-token quality
    * keep, tokenizer-token dup bound, then lang-id — the q_curation
    * gates + q_lang_id prediction composed relationally. */
  private def streamCurationSql: String =
    s"""WITH t AS (
  SELECT doc_id, lang, coalesce(text, '') AS tx,
    list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), s -> s <> '') AS toks,
    ${toksArrSql()} AS rtoks
  FROM documents),
k AS (
  SELECT doc_id, lang, tx, toks FROM t
  WHERE CAST(len(toks) AS BIGINT) >= 10
    AND len(list_filter(toks, x -> list_contains(${sqlList(TextAnalysis.EnStopwords)}, x))) >= 1
    AND (CASE WHEN len(rtoks) > 0
              THEN 1.0 - CAST(len(list_distinct(rtoks)) AS DOUBLE) / len(rtoks)
              ELSE 0.0 END) <= $CurationDupFracMax)
${langIdPredSql("k", Nil)}
ORDER BY doc_id"""

  private def qualitySql: String =
    s"""WITH t AS (
  SELECT doc_id, coalesce(text, '') AS tx,
    list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), s -> s <> '') AS toks
  FROM documents),
m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    (length(tx) - length(regexp_replace(tx, '[!-/:-@\\[-`{-~]', '', 'g')))
      / greatest(CAST(length(tx) AS DOUBLE), 1.0) AS punct_ratio,
    (length(tx) - length(regexp_replace(tx, '[0-9]', '', 'g')))
      / greatest(CAST(length(tx) AS DOUBLE), 1.0) AS digit_ratio,
    CAST(len(list_filter(toks, x -> list_contains(${sqlList(TextAnalysis.EnStopwords)}, x))) AS BIGINT) AS stop
  FROM t)
SELECT doc_id, n_words,
  round(punct_ratio, 6) AS punct_ratio,
  round(digit_ratio, 6) AS digit_ratio,
  round(stop / greatest(CAST(n_words AS DOUBLE), 1.0), 6) AS stopword_ratio,
  round(least(1.0, n_words / 20.0) * (1.0 - punct_ratio) * (1.0 - digit_ratio), 6) AS quality_score,
  (n_words >= 10 AND stop >= 1) AS keep
FROM m ORDER BY doc_id"""
}
