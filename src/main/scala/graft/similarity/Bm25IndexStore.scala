package graft.similarity

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.Tokenize

/** Persist-and-serve contract for the lexical retrieval tier — the
  * third persisted index alongside the ANN store
  * ([[graft.similarity.IndexStore]]) and the dedup store
  * ([[graft.dedup.DedupIndexStore]]): [[Bm25.search]] deliberately
  * builds NO index (for an ad-hoc query set, two elementwise corpus
  * scans beat materializing a doc×term table), but a serving deployment
  * answers MANY queries against one static corpus, and there the
  * classic inverted index wins — tokenize the corpus once, persist the
  * posting lists, and let each query read only its own terms' slice of
  * the index.
  *
  * Layout under one index directory (all parquet, Hadoop-FS paths):
  *
  *   - `meta/`: one row `(model, n_buckets)` — the tokenizer id and the
  *     posting-bucket count; appends READ it back rather than trusting
  *     the caller (a delta tokenized under a different model silently
  *     corrupts every future query),
  *   - `postings/`, PARTITIONED BY `tok_bucket = pmod(fnv1a(token),
  *     n_buckets)`: rows `(token, doc_id, tf, dl)` — the posting lists
  *     with the document length DENORMALIZED in (the standard
  *     store-norms-with-postings trick: serving never joins a
  *     corpus-sized doclens table),
  *   - `doclens/`: `(doc_id, dl)` — corpus stats ground truth: `N` and
  *     `avgdl` must count every document including token-less ones,
  *     which have no posting rows; also what makes takedown serving
  *     exact (stats are recomputed net of tombstones),
  *   - `stats/`: one row `(n_docs, n_tokens)` — the tombstone-free fast
  *     path (no corpus-sized scan per query),
  *   - `df/`: the term dictionary `(token, df)`, derived at build time
  *     from the same token dump as the postings (a few files sorted by
  *     token, not bucket-partitioned) and stamped with the postings
  *     tree it describes (an empty `_postings-<tree>` file). Appends and
  *     stream batches nest a delta inside the resolved `df` tree under
  *     their postings delta's name (`append-<id>`, `delta-<batchId>`);
  *     [[compactBm25Index]] re-derives it from the published postings
  *     through [[graft.util.ArtifactTree.compact]]. A serve reads df(t)
  *     from it only when the stamp names `ArtifactTree.resolve(postings)`
  *     and its committed delta names equal the `postings_deltas` names,
  *     with no tombstones pending; in every other state (a legacy store
  *     without `df/`, a crash window of a build, append or compaction)
  *     it counts df(t) from the postings exactly as before,
  *   - `stats_net/` (optional, maintained by [[deleteFromBm25Index]]):
  *     one row `(n_docs, n_tokens, n_tombstones)` net of the current
  *     tombstone set — the pending-takedown fast path, self-validated
  *     by the tombstone-count stamp,
  *   - `tombstones/` (optional): `(doc_id)` — logical deletes.
  *
  * The serving plan is the scale contract: a query for `t` terms LISTS
  * and reads at most `t` of the `n_buckets` partition directories —
  * only the existing directories of its buckets are handed to the scan
  * (the rest of the tree is never listed, so no serve pays a
  * tree-sized file-listing job), the bucket literals stay STATIC
  * partition filters (no runtime subquery needed), and the
  * `token IN (...)` filter pushes into the parquet scan — then pivots
  * per-doc term partials through ONE bounded exchange and takes a
  * bounded top-k. `N`, `avgdl`, and each `df(t)` are driver-side
  * values (the dictionary read returns ≤ `t` rows per delta, the df
  * aggregate ≤ `t` rows), and each term's idf enters the plan as an
  * element of an array literal rather than an inlined double, so a
  * warm serve with fresh terms reuses its generated code. Served
  * scores are BIT-IDENTICAL to [[Bm25.search]] on the same corpus:
  * same long/int arithmetic widths, same sorted-term left-assoc float
  * fold, same
  * round-before-cut contract (spec-pinned, and the served query shares
  * the in-session oracle). The one-row `meta` and `stats` artifacts
  * and the postings tree's schema and directory names are read once
  * per FILE STATE ([[graft.util.SchemaMemo]]): only writes change them,
  * and every write changes the freshness token. Postings, the term
  * dictionary and tombstones are re-read on every call; results are
  * never reused.
  *
  * Takedowns ([[deleteFromBm25Index]]) are logical and EXACT: postings
  * exclude tombstoned docs before `df(t)` is counted, and `N`/`avgdl`
  * come from the `stats_net` cache the delete maintains (net of
  * tombstones, validated per query against the live tombstone count —
  * a bounded job on the delta-class tombstone set; a stale cache from
  * a crashed delete fails the stamp and serving recomputes from
  * `doclens` exactly). Served results equal an index rebuilt without
  * the deleted documents in every state (spec- and oracle-pinned), and
  * the pending-takedown serve plan touches no corpus-sized artifact
  * beyond its own pruned postings read. */
object Bm25IndexStore {

  case class Bm25IndexMeta(model: String, nBuckets: Int)

  /** `pmod(fnv1a(token), nBuckets)` — the bucket routing, shared by the
    * build (partition column) and the serve (driver-side literals). */
  private def bucketCol(token: Column, nBuckets: Int): Column =
    pmod(graft.text.TextAnalysis.fnv1a64(token), lit(nBuckets.toLong)).cast("int")

  private[similarity] def bucketOf(term: String, nBuckets: Int): Int = {
    val h = graft.text.Fnv1aExpr.run(
      org.apache.spark.unsafe.types.UTF8String.fromString(term))
    // Long pmod, matching Spark's pmod(long, long)
    val m = h % nBuckets
    (if (m < 0) m + nBuckets else m).toInt
  }

  /** Build the index: ONE tokenize pass over the corpus, materialized
    * as a transient token dump that both artifacts derive from (the
    * sign-once discipline — two independent actions over the lazy
    * tokenize plan would pay the dominant cost twice), then postings
    * partitioned by token bucket, doclens, and the stats row. */
  def writeBm25Index(
      corpus: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      model: String = graft.text.TokenizerModels.PlainWordsEn,
      nBuckets: Int = 64): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((model, nBuckets)).toDF("model", "n_buckets")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
    writeArtifacts(corpus, path, textCol, idCol, model, nBuckets,
      postingsMode = "overwrite", postingsDelta = "", doclensSub = "")
    refreshStats(spark, path)
  }

  /** Tokenize once into a transient dump, derive postings + doclens from
    * the written files, drop the dump. `explode_outer` keeps token-less
    * documents as null-token rows so doclens counts every document.
    * `postingsDelta` non-empty routes posting rows to a batch-scoped
    * `postings_deltas/<name>` dir with `tok_bucket` as a DATA column
    * (streaming ingest can't append into a partition tree idempotently;
    * delta rows get the pushed tok_bucket filter instead of directory
    * pruning until a compaction folds them in — delta-class by the
    * operating contract). */
  private def writeArtifacts(
      docs: DataFrame,
      path: String,
      textCol: String,
      idCol: String,
      model: String,
      nBuckets: Int,
      postingsMode: String,
      postingsDelta: String,
      doclensSub: String): Unit = {
    val spark = docs.sparkSession
    val dump =
      if (postingsDelta.isEmpty) s"$path/_tokens" else s"$path/_tokens-$postingsDelta"
    docs.select(
        col(idCol).as("doc_id"),
        Tokenize.tokenStrings(col(textCol), model).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode_outer(col("toks")).as("token"))
      .write.mode("overwrite").parquet(dump)
    val exploded = spark.read.parquet(dump)
    // the dictionary output this write replaces is removed BEFORE the
    // postings land, so no crash between the two writes can leave an
    // older dictionary validating against newer postings
    val postingsTree = graft.util.ArtifactTree.resolve(spark, path, "postings")
    val dictTree = graft.util.ArtifactTree.resolve(spark, path, "df")
    val dictOut = new Path(
      if (postingsDelta.isEmpty) dictTree else s"$dictTree/$postingsDelta")
    dictOut.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dictOut, true)
    val tokens = exploded.filter(col("token").isNotNull)
    val postings = tokens
      .groupBy(bucketCol(col("token"), nBuckets).as("tok_bucket"),
        col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    // writes into a COMPACTED tree resolve through the manifest — the
    // live tree may be a versioned sibling (ArtifactTree.resolve)
    // Round 21 (guide §6 small files): repartition by tok_bucket before
    // the partitioned write, so each bucket directory is ONE file
    // instead of one file per upstream shuffle partition that touched
    // the bucket (measured: the serve's pruned postings scan spawned one
    // task per tiny file — 2× the tasks and 2× the footer/open overhead
    // on every serve, twice per serve). At production scale the knob is
    // `postingsFilesPerBucket` on a partitioned-subfile salt; here one
    // ~posting-list-sized file per bucket IS the 128MB–1GB guidance.
    if (postingsDelta.isEmpty)
      postings.repartition(nBuckets, col("tok_bucket"))
        .write.partitionBy("tok_bucket").mode(postingsMode)
        .parquet(postingsTree)
    else
      postings.write.mode("overwrite").parquet(s"$path/postings_deltas/$postingsDelta")
    // the term dictionary (token, df) from the same dump, sorted by
    // token; a delta nests inside the dictionary tree under the postings
    // delta's name
    dictionaryOf(tokens, dictFiles(spark, dump))
      .write.mode("overwrite").parquet(dictOut.toString)
    if (postingsDelta.isEmpty) writeDictionaryStamp(spark, dictTree, postingsTree)
    val dlSub = if (doclensSub.isEmpty) "" else s"/$doclensSub"
    exploded.select(col("doc_id"), col("dl")).distinct()
      .write.mode("overwrite")
      .parquet(graft.util.ArtifactTree.resolve(spark, path, "doclens") + dlSub)
    graft.util.ArtifactTree.remove(
      spark, path, dump.substring(path.length + 1))
  }

  /** The posting-row view a serve reads: the `buckets` directories of
    * the bucket-partitioned main tree that exist — the rest of the tree
    * is never listed, so the fixed cost scales with the query, not with
    * `n_buckets` — plus any streaming-delta subtree (where `tok_bucket`
    * is a data column — schema-aligned union). doc_id's type still comes
    * from the artifact footers, inferred once per file state
    * ([[graft.util.SchemaMemo.parquetPartitions]]). */
  private def readPostings(spark: SparkSession, path: String, buckets: Seq[Int]): DataFrame =
    withDeltas(spark, path, graft.util.SchemaMemo.parquetPartitions(spark,
      graft.util.ArtifactTree.resolve(spark, path, "postings"),
      buckets.map(b => s"tok_bucket=$b")))

  private def withDeltas(spark: SparkSession, path: String, main: DataFrame): DataFrame =
    graft.util.ArtifactTree.readOptional(spark, path, "postings_deltas") match {
      case None => main
      case Some(d) => main.unionByName(d)
    }

  /** Recompute the one-row stats artifact from the doclens tree (build
    * and append both end here; maintenance-class cost). While takedowns
    * are pending, the net-of-tombstones serving cache is refreshed in
    * the same job class — an append changes `N`/`avgdl` whether or not
    * tombstones exist. */
  private def refreshStats(spark: SparkSession, path: String): Unit = {
    readDoclens(spark, path)
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("n_tokens"))
      .repartition(1).write.mode("overwrite").parquet(s"$path/stats")
    if (tombstones(spark, path).nonEmpty) refreshNetStats(spark, path)
  }

  /** Maintain `stats_net/` — the net-of-tombstones serving-stats cache
    * that spares every pending-takedown query its own corpus-sized
    * doclens scan: one row `(n_docs, n_tokens, n_tombstones)` computed
    * net of the CURRENT tombstone set, with the distinct tombstone
    * count stored alongside as the cache's own validity stamp.
    * [[serveBm25TopK]] accepts the cached row only when the stamp
    * equals the live tombstone count (a bounded job on the delta-class
    * tombstone artifact it reads anyway), so a delete or append that
    * crashed before this refresh can never serve stale constants — the
    * stale cache fails validation and serving falls back to the exact
    * doclens recompute. Maintenance-class: one doclens scan per
    * delete/append, not per query. */
  private def refreshNetStats(spark: SparkSession, path: String): Unit =
    tombstones(spark, path) match {
      case None =>
        graft.util.ArtifactTree.remove(spark, path, "stats_net")
      case Some(t) =>
        val nTomb = t.distinct().count()
        readDoclens(spark, path).join(broadcast(t), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("n_tokens"))
          .withColumn("n_tombstones", lit(nTomb))
          .repartition(1).write.mode("overwrite").parquet(s"$path/stats_net")
    }

  // fixed store-format schemas: supplying them skips the per-read
  // footer-inference job (round 21; see IndexStore's note)
  private val MetaSchema = new org.apache.spark.sql.types.StructType()
    .add("model", "string").add("n_buckets", "int")
  private val StatsSchema = new org.apache.spark.sql.types.StructType()
    .add("n_docs", "long").add("n_tokens", "long")
  private val DictSplitBytes = 128L << 20
  private val DictSchema = new org.apache.spark.sql.types.StructType()
    .add("token", "string").add("df", "long")

  /** The `meta` row, read once per file state (only a build writes it). */
  def readMeta(spark: SparkSession, path: String): Bm25IndexMeta =
    graft.util.SchemaMemo.once(s"$path/meta", "bm25.meta") {
      val rows = spark.read.schema(MetaSchema).parquet(s"$path/meta").collect()
      require(rows.length == 1,
        s"Bm25IndexStore: expected one meta row at $path, got ${rows.length}")
      Bm25IndexMeta(rows(0).getAs[String]("model"), rows(0).getAs[Int]("n_buckets"))
    }

  def readDoclens(spark: SparkSession, path: String): DataFrame =
    graft.util.SchemaMemo.parquet(spark,
      graft.util.ArtifactTree.resolve(spark, path, "doclens"), recursive = true)

  /** Incremental maintenance: tokenize NEW documents under the
    * PERSISTED config and append. Delta-sized tokenize cost. Ids must
    * be NEW (same contract as the other stores): re-appending a live
    * id duplicates its posting rows, inflating df(t) and N — replacing
    * a document is delete → compact → append.
    *
    * Crash posture — the batch append reuses the streaming sink's
    * batch-scoped idempotent construction: BOTH artifacts land in
    * `append-<batchId>` delta directories with overwrite semantics, so
    * an append that crashed anywhere (including between the postings
    * and doclens commits, the window where df(t) counts docs that
    * `N`/`avgdl` miss) is healed by RE-RUNNING it with the SAME
    * `batchId` — the retry rewrites the same directories, never
    * duplicating rows. Callers that want that retry must pass a stable
    * `batchId` (the default draws a fresh UUID, which makes the single
    * successful call exactly-once but a blind retry a duplicate).
    * Until the retry lands, serving may undercount the half-appended
    * delta; it cannot double-count. Posting rows go to the delta
    * subtree (a data-column `tok_bucket` with the pushed filter), not
    * the live partition tree — delta-class until [[compactBm25Index]]
    * folds them in, exactly like streaming ingest. The term
    * dictionary's delta of the same name is removed before the postings
    * delta is written and rewritten after it, so a serve trusts the
    * dictionary only once both have landed. */
  def appendToBm25Index(
      newDocs: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      batchId: String = ""): Unit = {
    val spark = newDocs.sparkSession
    val m = readMeta(spark, path)
    val id = if (batchId.nonEmpty) batchId else java.util.UUID.randomUUID().toString.take(8)
    writeArtifacts(newDocs, path, textCol, idCol, m.model, m.nBuckets,
      postingsMode = "", postingsDelta = s"append-$id", doclensSub = s"append-$id")
    refreshStats(spark, path)
  }

  /** Streaming delta ingest — the production shape of
    * [[appendToBm25Index]]: document deltas arrive as a stream and land
    * exactly once. Each micro-batch tokenizes under the PERSISTED
    * config and writes BOTH artifacts to batch-id-scoped directories
    * with overwrite semantics (the idempotent-sink construction the ANN
    * and dedup stores proved): a batch replayed after a crash —
    * including one that died between the two writes — rewrites the same
    * directories. The stats row is re-derived from the doclens tree
    * after each batch, so it converges under replay too. */
  def streamAppendToBm25Index(
      deltas: DataFrame,
      path: String,
      checkpoint: String,
      textCol: String = "text",
      idCol: String = "doc_id"): org.apache.spark.sql.streaming.StreamingQuery = {
    val m = readMeta(deltas.sparkSession, path)
    deltas.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeArtifacts(batch, path, textCol, idCol, m.model, m.nBuckets,
          postingsMode = "", postingsDelta = s"delta-$batchId",
          doclensSub = s"delta-$batchId")
        refreshStats(batch.sparkSession, path)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Tombstone documents out of the index — the takedown job. Logical
    * delete, EXACT serving (see object doc); physical rows leave at the
    * next [[compactBm25Index]]. The tombstone set is DELTA-CLASS by the
    * same operating contract as the other two stores (serving
    * broadcasts it into the anti-joins) — mass deletions should go
    * straight to a compaction. The net-of-tombstones serving-stats
    * cache is refreshed here (one doclens scan per DELETE instead of
    * per query); a crash between the tombstone append and the refresh
    * leaves a stale cache that serving's validity stamp rejects (exact
    * fallback), and re-running the delete is idempotent — tombstone
    * duplicates are harmless to the anti-joins and the stamp counts
    * distinct ids. */
  def deleteFromBm25Index(ids: DataFrame, path: String, idCol: String = "doc_id"): Unit = {
    ids.select(col(idCol).as("doc_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")
    refreshNetStats(ids.sparkSession, path)
  }

  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    graft.util.ArtifactTree.readOptional(spark, path, "tombstones")
      .map(_.select(col("doc_id")))

  /** Corpus constants `(N, avgdl)` for serving: the tombstone-free path
    * reads the one-row stats artifact, once per file state (only builds,
    * appends and compactions rewrite it); pending takedowns read the
    * one-row stats_net cache maintained by [[deleteFromBm25Index]],
    * accepted only when its tombstone-count stamp matches the live set
    * (so a crashed delete/append can't serve stale constants) — the
    * validated cache and the exact fallback both equal a rebuild
    * without the deleted docs. Shared by the per-call and batched
    * serves so their constants are bitwise the same values. */
  private def corpusConstants(
      spark: SparkSession, path: String, tomb: Option[DataFrame]): (Long, Double) = {
    def counts(r: org.apache.spark.sql.Row): (Long, Long) =
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))
    val (nDocs, nTokens) = tomb match {
      case None =>
        graft.util.SchemaMemo.once(s"$path/stats", "bm25.stats")(
          counts(spark.read.schema(StatsSchema).parquet(s"$path/stats").head()))
      case Some(t) =>
        val nTomb = t.distinct().count()
        counts(graft.util.ArtifactTree.readOptional(spark, path, "stats_net")
          .map(_.head())
          .filter(_.getAs[Long]("n_tombstones") == nTomb)
          .getOrElse(
            readDoclens(spark, path).join(broadcast(t), Seq("doc_id"), "left_anti")
              .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("n_tokens"))
              .head()))
    }
    val avgdl = if (nDocs == 0L) 0.0 else nTokens.toDouble / nDocs
    (nDocs, avgdl)
  }

  /** The IDF the whole store serves: computed on the DRIVER with one
    * `math.log`, so the batched serve (which joins idf in as a column)
    * and the per-call serve (which indexes an idf array literal) are
    * bitwise identical rather than one `java.lang.Math.log` ulp away
    * from Spark's codegen'd `LOG`. */
  private def idfOf(nDocs: Long, df: Long): Double =
    math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))

  /** The term dictionary, when it can serve df(t) EXACTLY: it must
    * have been derived from the live postings tree (its stamp names
    * `ArtifactTree.resolve(postings)`) and hold one committed delta for
    * each `postings_deltas` subdirectory, by name. Every other state — a
    * legacy store without `df/`, a build, append or compaction that
    * died between its postings and dictionary writes — fails the check,
    * and callers count df(t) from the postings instead. */
  private def validDictionary(spark: SparkSession, path: String): Option[DataFrame] = {
    val tree = new Path(graft.util.ArtifactTree.resolve(spark, path, "df"))
    val fs = tree.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def subdirs(p: Path, committed: Boolean): Set[String] =
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).iterator
        .collect { case s if s.isDirectory => s.getPath }
        .filterNot(d => d.getName.startsWith("_") || d.getName.startsWith("."))
        .filter(d => !committed || fs.exists(new Path(d, "_SUCCESS")))
        .map(_.getName).toSet
    val stamp = new Path(tree,
      dictionaryStamp(graft.util.ArtifactTree.resolve(spark, path, "postings")))
    if (fs.exists(stamp) && subdirs(tree, committed = true) ==
        subdirs(new Path(path, "postings_deltas"), committed = false))
      Some(spark.read.schema(DictSchema).option("recursiveFileLookup", "true")
        .parquet(tree.toString))
    else None
  }

  /** `(token, df)` over posting-shaped rows, in `files` partitions
    * sorted by token: hash-partitioned by token (the aggregate's only
    * exchange) or, for one file, aggregated in a single task with no
    * exchange at all. */
  private def dictionaryOf(rows: DataFrame, files: Int): DataFrame =
    (if (files == 1) rows.coalesce(1) else rows.repartition(files, col("token")))
      .groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      .sortWithinPartitions("token")

  /** Dictionary files for the rows stored under `source`: one per
    * 128 MB of them (the scan split size), so a source one task would
    * scan anyway is aggregated in that task. */
  private def dictFiles(spark: SparkSession, source: String): Int = {
    val p = new Path(source)
    val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    math.max(1L, (bytes + DictSplitBytes - 1) / DictSplitBytes).toInt
  }

  /** The dictionary's validity stamp: an empty file in the dictionary
    * tree named after the postings tree it was derived from (the `_`
    * prefix keeps it out of every parquet read). */
  private def dictionaryStamp(postingsTree: String): String =
    "_postings-" + new Path(postingsTree).getName

  private def writeDictionaryStamp(spark: SparkSession, dictTree: String, postingsTree: String): Unit = {
    val p = new Path(dictTree, dictionaryStamp(postingsTree))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true).close()
  }

  /** df(t) for `terms` from a valid term dictionary: base and delta
    * rows of one term add up (ids are new per append). None while
    * takedowns are pending (the dictionary is not net of tombstones) or
    * when the dictionary fails [[validDictionary]]. One small read. */
  private def dictionaryDf(spark: SparkSession, path: String, terms: Seq[String],
      tomb: Option[DataFrame]): Option[Map[String, Long]] =
    if (tomb.nonEmpty) None
    else validDictionary(spark, path).map { dict =>
      ServeProbe.dictionaryReads.incrementAndGet()
      dict.filter(col("token").isin(terms: _*))
        .collect().toSeq.groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
    }

  /** df(t) counted from pruned posting rows — the exact path for every
    * state the dictionary cannot serve. DISTINCT doc_id, which is df's
    * definition — and what makes serving immune to duplicate posting
    * rows in the one crash window that can produce them (a compaction
    * that died after the postings swap but before the folded
    * postings_deltas removal: readPostings unions the already-folded
    * delta rows with the new tree until the compaction is re-run; the
    * per-doc pivot is max-based, so scores stay EXACT across that window
    * rather than silently double-counted). ≤ |terms| rows to the driver. */
  private def countDf(hits: DataFrame): Map[String, Long] = {
    ServeProbe.dfCounts.incrementAndGet()
    hits.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("df")).toMap
  }

  /** `pruneDf` sentinel (round 19): derive the MaxScore threshold from
    * the index's own persisted stats — `max(1, nDocs/10)`, the
    * measured-good value from the r18 Zipf study (SCALING.md). The r18
    * knob was opt-in, which left the measured 22× hot-term serving
    * cliff armed for any caller who hadn't read SCALING.md; the
    * admission proof + unpruned fallback already guarantee bitwise-
    * identical results, so the default can engage pruning with zero
    * result risk — it is purely a cost bound. Explicit positive values
    * override; `Long.MaxValue` disables pruning outright (the round-17
    * plan, byte for byte). */
  val PruneDfAuto: Long = -1L

  /** `max(1, …)` keeps the resolved threshold positive on tiny corpora
    * (nDocs < 10 would derive 0, classifying a df=0 unmatched term as
    * hot — ADVICE r18). */
  private[similarity] def resolvePruneDf(pruneDf: Long, nDocs: Long): Long = {
    require(pruneDf == PruneDfAuto || pruneDf > 0L,
      s"pruneDf must be positive, PruneDfAuto (-1) or Long.MaxValue — got $pruneDf")
    if (pruneDf == PruneDfAuto) math.max(1L, nDocs / 10L) else pruneDf
  }

  /** Serve one BM25 query from the persisted index. Same parameters and
    * same score/tie/round contract as [[Bm25.search]]; lists and reads
    * ≤ |terms| posting buckets (static partition pruning), the term
    * dictionary's rows for `terms` (when valid) and the memoized
    * one-row stats artifact (or the validated stats_net cache while
    * takedowns are pending). A warm call runs 3 jobs on the plain
    * route: the dictionary read, then the scoring plan's exchange and
    * top-k (spec-pinned in `Bm25ServeBudgetSpec`).
    *
    * `pruneDf` (round 18): the per-call arm of the batched serve's
    * exact MaxScore pruning — identical contract and proof (see
    * [[serveBm25TopKBatch]]); results bitwise the unpruned serve's.
    * Defaults to [[PruneDfAuto]] (round 19): the threshold derives from
    * the index's own stats, `Long.MaxValue` disables. */
  def serveBm25TopK(
      spark: SparkSession,
      path: String,
      terms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75,
      roundTo: Int = -1,
      pruneDf: Long = PruneDfAuto): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    require(terms.distinct == terms, "query terms must be distinct")
    val m = readMeta(spark, path)
    val tomb = tombstones(spark, path)

    val buckets = terms.map(bucketOf(_, m.nBuckets)).distinct
    val hit0 = readPostings(spark, path, buckets)
      .filter(col("tok_bucket").isin(buckets.map(Integer.valueOf): _*) &&
        col("token").isin(terms: _*))
    // exclusion rides an anti-join AFTER the pruned scan (a filter
    // between partition pruning and the scan is the DPP lesson from the
    // ANN store; here pruning is static, but the anti-join keeps the
    // tombstone scan out of the postings read path either way)
    val hitsScan = tomb.fold(hit0)(t => hit0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    if (ServeProbe.capturePlans.get)
      ServeProbe.lastPrunedPostingsPlan = hitsScan.queryExecution.executedPlan
    // ONE postings scan per serve. With a valid term dictionary df(t)
    // is known before any posting is read, so the plain route scores
    // `hitsScan` directly and keeps no checkpoint blocks at all. Only
    // the MaxScore route (candidate, phase-1 and fallback plans over the
    // same rows) and the exact df count of the dictionary's fallback
    // read the pruned scan more than once; they share it through a lazy
    // checkpoint, materialized by its first action: ≤ Σ_t df(t) rows,
    // disk-backed if they outgrow storage memory, freed with the RDD by
    // the ContextCleaner (no CacheManager residue).
    lazy val hits = hitsScan.localCheckpoint(false)

    val (nDocs, avgdl) = corpusConstants(spark, path, tomb)
    val effPrune = resolvePruneDf(pruneDf, nDocs)
    val dict = dictionaryDf(spark, path, terms, tomb)
    val dfs = dict.getOrElse(countDf(hits))

    // the partial is computed per posting row, with the per-query idf
    // entering as DATA: an array literal indexed by the row's own term
    // position (a literal index would constant-fold back into an inlined
    // double, and inlined doubles make every query compile new classes).
    // Every row here passed `token IN terms`, so the index is >= 1.
    val idf = element_at(typedLit(terms.map(t => idfOf(nDocs, dfs.getOrElse(t, 0L)))),
      array_position(typedLit(terms), col("token")).cast("int"))
    val partial = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    // pivot to per-term columns so the float fold runs in sorted-term
    // order exactly like Bm25.search — a groupBy sum of doubles would
    // add in partition order and break bit-parity; an absent term adds
    // exactly 0.0
    val pivot = terms.indices.map(i =>
      max(when(col("token") === terms(i), col("__p"))).as(s"__p_$i"))
    val summed = terms.indices.sortBy(terms)
      .map(i => coalesce(col(s"__p_$i"), lit(0.0))).foldLeft(lit(0.0))(_ + _)
    val score = if (roundTo >= 0) round(summed, roundTo) else summed
    def cut(h: DataFrame): DataFrame = h
      .select(col("doc_id"), col("token"), partial.as("__p"))
      .groupBy("doc_id")
      .agg(pivot.head, pivot.tail: _*)
      .select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

    // exact MaxScore pruning, the per-call arm of the batched serve's
    // contract (same proof, same fallback — see serveBm25TopKBatch's
    // scaladoc): candidates = docs matching >= 1 essential (low-df)
    // term; the hot terms' partials ride the SAME pivot restricted to
    // those docs, so candidate scores are bitwise the unpruned plan's,
    // and the result is accepted only when no pruned-only doc can enter it
    val hot = terms.filter(t => dfs.getOrElse(t, 0L) > effPrune)
    val ess = terms.filterNot(t => dfs.getOrElse(t, 0L) > effPrune)
    if (hot.isEmpty || ess.isEmpty ||
        ess.map(t => dfs.getOrElse(t, 0L)).sum < k)
      return cut(if (dict.isDefined) hitsScan else hits)

    val candDocs = hits.filter(col("token").isin(ess: _*))
      .select("doc_id").distinct()
    val topk = cut(hits.join(candDocs, Seq("doc_id"), "left_semi"))
      .localCheckpoint(true)
    val rows = topk.select(col("score")).collect()
    val margin = if (roundTo >= 0) math.pow(10.0, -roundTo) else 1e-9
    val ubSum = hot.map(t => idfOf(nDocs, dfs.getOrElse(t, 0L)) * (k1 + 1.0)).sum
    if (rows.length == k && rows.map(_.getDouble(0)).min - ubSum > margin) topk
    else cut(hits) // proof failed: the unpruned plan, bit for bit
  }

  /** Serve a BATCH of BM25 queries from the persisted index in ONE
    * join-shaped plan — the production shape: a serving job answers
    * thousands of queries per run, and paying [[serveBm25TopK]]'s
    * per-call plan (its own postings scan, its own broadcast jobs, its
    * own df collect) per query makes per-query cost constant instead of
    * amortized. Here the whole batch shares everything:
    *
    *   - `queries` is a DataFrame `(queryIdCol, termsCol:
    *     array<string>)`; duplicate terms within a query are collapsed
    *     (the per-call contract requires distinct terms),
    *   - the batch vocabulary comes to the driver once (≤ |batch
    *     vocabulary| rows, the only query-side driver action besides
    *     df below); the postings read is pruned STATICALLY to its
    *     bucket set — ≤ `n_buckets` literals regardless of batch size —
    *     and filtered to its terms,
    *   - postings are scanned ONCE per batch, independent of |queries|
    *     (round 22, VERDICT r21 #3): the scan rides lazy-checkpoint
    *     blocks that its first action materializes, and every later
    *     consumer reads the blocks — down from the historical two scans
    *     (df + scoring), and from up to five on the engaged MaxScore
    *     path,
    *   - `df(t)` comes from the store's term dictionary when it is
    *     valid (else from a distinct-doc count over the pruned scan,
    *     exactly as the per-call serve falls back), as ≤ |batch
    *     vocabulary| rows; each term's idf is computed on the DRIVER
    *     with the per-call path's
    *     exact `math.log` ([[idfOf]]), then broadcast back as a column
    *     — driver traffic is query-proportional, never
    *     corpus-proportional,
    *   - per-(query, doc) scores fold in SORTED-TERM order via
    *     `aggregate(sort_array(...))` — the same left-associated float
    *     fold as the per-call pivot (absent terms add exactly `0.0`
    *     there, an identity on the nonnegative partials, so folding
    *     present terms only is bitwise the same sum),
    *   - per-query top-k is a `row_number` window over the scored rows
    *     (the only exchange in the plan keyed by query), with the same
    *     round-before-cut and `(score desc, doc_id asc)` tie contract.
    *
    * Result: `(query_id, doc_id, score)` — for every query, bitwise the
    * rows [[serveBm25TopK]] returns for it (spec-pinned, and the batch
    * query shares the per-call DuckDB oracle shape). Tombstones are
    * honored exactly like the per-call path (anti-join after the pruned
    * scan, constants net of tombstones).
    *
    * `queries` is read ONCE, by construction: its distinct
    * `(query_id, token)` rows ride a lazy checkpoint that the
    * vocabulary collect fills, and every later consumer (the scoring
    * broadcast, the MaxScore routing's collect and filters, the
    * fallback) reads those rows. A frame that would present different
    * rows to a second evaluation (a UDF declared deterministic that is
    * not, a source that moves) is served as that one read on every
    * route — the vocabulary, the pruned postings and the scoring join
    * can never disagree.
    *
    * `pruneDf` — EXACT MaxScore pruning for stopword-class terms
    * (Turtle & Flood 1995, "Query evaluation: strategies and
    * optimizations"; round 18). The r18 Zipf measurement (SCALING.md):
    * a batch whose every query carries a df≈N term costs
    * |batch|·df(hot) scored rows — 38M rows for 64 queries over 600k
    * docs, 1.6 s/query, NO batch amortization — and the cost lives in
    * the scoring join + per-(query,doc) fold, NOT the pruned scan, so
    * the long-sketched STORAGE sub-bucket split cannot move it. What
    * does: a term with df close to N carries an idf (and therefore a
    * score contribution) bounded by `ub(t) = idf(t)·(k1+1)` ≈ 0 — BM25
    * itself says the stopword barely matters. With `pruneDf` set,
    * terms with `df(t) > pruneDf` are PRUNED from candidate
    * generation: candidates are docs matching ≥1 essential (low-df)
    * term, scored EXACTLY (the pruned terms' partials are looked up
    * for candidate docs through a doc-keyed semi-join, so every
    * candidate's fold sees the identical (token, partial) multiset as
    * the unpruned plan — bitwise-equal scores), and a query's pruned
    * result is accepted only when the driver can PROVE no pruned-only
    * doc could enter its top-k: the query has a full k candidates and
    * `kth_score − Σ_(t pruned) ub(t) > 10^-roundTo` (the margin covers
    * rounding; every pruned-only doc scores strictly under the ub
    * sum). Queries failing the proof — and queries with no hot or no
    * essential terms — fall back to the unpruned plan, so results are
    * ALWAYS bitwise the unpruned serve's (spec-pinned), and the knob
    * is purely a cost bound. Defaults to [[PruneDfAuto]] (round 19):
    * the threshold derives from the index's own persisted stats as
    * `max(1, nDocs/10)` — the measured-good value from the r18 Zipf
    * study — so a stopword-bearing production query log is protected
    * with zero caller configuration. Explicit positive values
    * override; `Long.MaxValue` disables (the round-17 plan, byte for
    * byte). Driver traffic stays query-proportional: the routing adds
    * one (query, term) collect and one per-query (count, kth) collect,
    * both ≤ |batch| scale. */
  def serveBm25TopKBatch(
      queries: DataFrame,
      path: String,
      queryIdCol: String = "query_id",
      termsCol: String = "terms",
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75,
      roundTo: Int = -1,
      pruneDf: Long = PruneDfAuto): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val m = readMeta(spark, path)
    val tomb = tombstones(spark, path)

    // ONE read of the caller's frame: the distinct (query, term) rows
    // (≤ |batch| scale) ride a lazy checkpoint that the vocabulary
    // collect below fills, and every later consumer reads its blocks,
    // so no route can see rows another route did not (disk-backed,
    // freed with the RDD by the ContextCleaner)
    val qterms = queries
      .select(col(queryIdCol).as("query_id"), explode(col(termsCol)).as("token"))
      .distinct()
      .localCheckpoint(false)

    // the batch vocabulary to the driver (≤ |batch vocabulary| rows, the
    // same bounded class as the df rows below): the bucket literals for
    // static pruning (≤ n_buckets values however large the batch is)
    // and the term-dictionary lookup both derive from it
    val vocab = qterms.select("token").distinct().collect().toSeq
      .flatMap(r => Option(r.getString(0)))
    val buckets = vocab.map(bucketOf(_, m.nBuckets)).distinct
    // zero-rows shell with the caller's query-id type AND the index's
    // doc-id type (the postings artifact's memoized schema — no bucket
    // is read — like the live path: a Long literal would hand
    // non-Long-id indexes a different degenerate-batch schema than live
    // batches), for the no-terms / no-hits degenerate batches
    def emptyResult: DataFrame =
      qterms.select("query_id").limit(0)
        .crossJoin(readPostings(spark, path, Nil).select("doc_id").limit(0))
        .select(col("query_id"), col("doc_id"), lit(0.0).as("score"))
    if (buckets.isEmpty) return emptyResult

    val hit0 = readPostings(spark, path, buckets)
      .filter(col("tok_bucket").isin(buckets.map(Integer.valueOf): _*) &&
        col("token").isin(vocab: _*))
    val hitsScan = tomb.fold(hit0)(t => hit0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    if (ServeProbe.capturePlans.get)
      ServeProbe.lastPrunedPostingsPlan = hitsScan.queryExecution.executedPlan
    // ONE postings scan per batch (round 22, VERDICT r21 #3): the
    // batch's first action over the pruned scan (the df count when the
    // term dictionary cannot serve, else the scoring join) materializes
    // it into lazy-checkpoint blocks; every later consumer — on the
    // engaged path the candidate, hot-lookup and fallback plans, each
    // previously its own postings scan — reads the blocks. Memory
    // posture for unpruned hot batches: the blocks hold the pruned
    // posting rows the scoring join had to materialize anyway (≤ Σ_t
    // df(t) rows — for a df≈N stopword that is corpus-df-sized, the
    // same bound as before), MEMORY_AND_DISK so oversize spills rather
    // than OOMs, freed with the RDD by the ContextCleaner (no
    // CacheManager residue).
    val hits = hitsScan.localCheckpoint(false)

    val (nDocs, avgdl) = corpusConstants(spark, path, tomb)
    val effPrune = resolvePruneDf(pruneDf, nDocs)

    // df(t) once for the whole batch (terms shared across queries pay
    // it once) — from the term dictionary when it is valid, else counted
    // from the pruned scan — idf on the driver for bit-parity with the
    // per-call serve; ≤ |batch vocabulary| rows up, same back down
    // broadcast
    val dfRows = dictionaryDf(spark, path, vocab, tomb).getOrElse(countDf(hits)).toSeq
    if (dfRows.isEmpty) return emptyResult
    val idfRows = dfRows.map { case (t, df) => (t, idfOf(nDocs, df)) }
    val idfDf = idfRows.toDF("token", "idf")

    // the per-call partial with idf as a joined column instead of a
    // literal — same arithmetic tree, same implicit long→double widths
    val partial = col("idf") * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))

    // the shared tail: sorted-term left-assoc float fold, like the
    // per-call pivot (terms are distinct per (query, doc), so
    // sort_array's struct order is exactly term order and the fold is
    // deterministic), then round-before-cut per-query top-k
    def scoreAndCut(scored: DataFrame): DataFrame = {
      val summed = aggregate(
        sort_array(collect_list(struct(col("token"), col("partial")))),
        lit(0.0),
        (acc, x) => acc + x.getField("partial"))
      val perQueryDoc = scored
        .groupBy("query_id", "doc_id")
        .agg(summed.as("score0"))
      val score = if (roundTo >= 0) round(col("score0"), roundTo) else col("score0")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      perQueryDoc
        .select(col("query_id"), col("doc_id"), score.as("score"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .drop("__rn")
    }
    // the unpruned scoring join for the query rows `qt`: the whole batch,
    // or the failed-proof fallback's subset — df(t) depends only on the
    // token and the tombstone set, and the per-query fold and window
    // never see other queries' rows, so per query the restricted join is
    // bitwise the whole batch's
    def fullScored(qt: DataFrame): DataFrame = hits
      .join(broadcast(idfDf), Seq("token"))
      .join(broadcast(qt), Seq("token"))
      .select(col("query_id"), col("doc_id"), col("token"), partial.as("partial"))

    // vocabulary-level skips: with no hot term there is nothing to
    // prune, and if every batch term PRESENT in the index is hot (round
    // 19) no query can hold an essential term with df ≥ 1 — either way
    // the unpruned plan, without the routing's (query, term) collect.
    // The all-hot case is the shape of the oracle fixtures' common-word
    // batches under the auto default.
    val hotTokens = dfRows.collect { case (t, df) if df > effPrune => t }.toSet
    if (hotTokens.isEmpty || hotTokens.size == dfRows.length)
      return scoreAndCut(fullScored(qterms))

    // ---- MaxScore routing (see the scaladoc's exactness proof) ----
    // (query, term) pairs to the driver: query-proportional, the same
    // bounded class as the bucket and df collects above
    ServeProbe.queryTermCollects.incrementAndGet()
    val byQuery = qterms.collect()
      .map(r => (r.get(0), r.getString(1)))
      .groupBy(_._1).map { case (qid, rows) => qid -> rows.map(_._2).toSeq }
    val idfMap = idfRows.toMap
    val dfMap = dfRows.toMap
    // a query routes through the pruned path only when the proof CAN
    // succeed: it needs a hot term to prune, an essential term to
    // generate candidates, and candidates can reach k at all —
    // Σ df(essential) bounds the candidate count, so below k the n==k
    // check is doomed and the phase-1 plan would be paid for nothing
    val pruneQs = byQuery.filter { case (_, ts) =>
      ts.exists(hotTokens) && ts.exists(t => !hotTokens(t)) &&
        ts.filterNot(hotTokens).map(t => dfMap.getOrElse(t, 0L)).sum >= k
    }
    if (pruneQs.isEmpty) return scoreAndCut(fullScored(qterms))
    // per-query upper bound on what its pruned terms can add to ANY
    // doc: tf·(k1+1)/(tf + K) < k1+1 strictly for finite tf and K > 0
    val ubSum: Map[Any, Double] = pruneQs.map { case (qid, ts) =>
      qid -> ts.filter(hotTokens).map(t => idfMap.getOrElse(t, 0.0) * (k1 + 1.0)).sum }

    val pruneIdFilter = col("query_id").isin(pruneQs.keysIterator.toSeq: _*)
    val essQ = qterms.filter(pruneIdFilter && !col("token").isin(hotTokens.toSeq: _*))
    val hotQ = qterms.filter(pruneIdFilter && col("token").isin(hotTokens.toSeq: _*))

    // candidates: docs matching >= 1 essential term — Σ df(essential)
    // rows, the whole point of the cut; eager checkpoint because three
    // subtrees consume it
    val essScored = hits
      .join(broadcast(idfDf), Seq("token"))
      .join(broadcast(essQ), Seq("token"))
      .select(col("query_id"), col("doc_id"), col("token"), partial.as("partial"))
      .localCheckpoint(true)
    val candPairs = essScored.select("query_id", "doc_id").distinct()
    val candDocs = candPairs.select("doc_id").distinct()
    // the pruned terms' partials for candidate docs ONLY: the hot
    // posting list shrinks through a doc-keyed semi-join BEFORE it ever
    // meets the query table — df(hot)·|queries| rows never materialize
    val hotScored = hits
      .filter(col("token").isin(hotTokens.toSeq: _*))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .join(broadcast(idfDf), Seq("token"))
      .join(broadcast(hotQ), Seq("token"))
      .join(candPairs, Seq("query_id", "doc_id"), "left_semi")
      .select(col("query_id"), col("doc_id"), col("token"), partial.as("partial"))
    val phase1 = scoreAndCut(essScored.unionByName(hotScored)).localCheckpoint(true)

    // accept a query's pruned top-k only when no pruned-only doc could
    // enter it: full k candidates AND the k-th score clears the ub sum
    // by more than one rounding ulp
    val margin = if (roundTo >= 0) math.pow(10.0, -roundTo) else 1e-9
    val passing = phase1.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min(col("score")).as("kth"))
      .collect()
      .collect { case r if r.getLong(1) == k &&
        r.getDouble(2) - ubSum(r.get(0)) > margin => r.get(0) }
      .toSet
    val served =
      if (passing.isEmpty) phase1.limit(0)
      else phase1.filter(col("query_id").isin(passing.toSeq: _*))
    // everything else — plain queries, failed proofs, all-hot queries —
    // takes the unpruned plan over the SAME artifacts: no recursion, no
    // second postings read, no second driver collect
    val fbIds = byQuery.keySet -- passing
    if (fbIds.isEmpty) served
    else {
      ServeProbe.fallbackUnions.incrementAndGet()
      served.unionByName(scoreAndCut(
        fullScored(qterms.filter(col("query_id").isin(fbIds.toSeq: _*)))))
    }
  }

  /** Test instrumentation for the serve plan-shape contract (round 20,
    * spec-pinned): per-JVM counters at the batched serve's routing
    * sites, so a spec can assert the no-hot / all-hot guards keep the
    * (query, term) collect off the common path and that a failed proof
    * unions the reuse tail rather than recursing. Monotonic counters
    * (specs diff snapshots); not part of the serving contract. */
  private[graft] object ServeProbe {
    val queryTermCollects = new java.util.concurrent.atomic.AtomicLong(0L)
    val fallbackUnions = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Round 22: the serves' pruned postings scan may ride a lazy
      * localCheckpoint, so the FINAL plan can show block reads, not the
      * parquet scan — specs asserting static bucket pruning flip this on
      * and read the captured pre-checkpoint scan plan instead. Default
      * off: zero cost on the serving path. */
    val capturePlans = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var lastPrunedPostingsPlan: org.apache.spark.sql.execution.SparkPlan = null
    def snapshot(): (Long, Long) = (queryTermCollects.get(), fallbackUnions.get())
    /** Which path served df(t): the term dictionary, or the exact
      * distinct-doc count over the pruned postings scan. */
    val dictionaryReads = new java.util.concurrent.atomic.AtomicLong(0L)
    val dfCounts = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  /** Fold pending tombstones into postings and doclens physically,
    * rebuild the term dictionary from the folded postings, refresh
    * stats, clear the tombstones — serving returns to the one-row stats
    * path and the dictionary, and the stats_net cache is retired. The
    * postings rewrite PRESERVES the `tok_bucket=` partition tree that
    * serving's static pruning reads. Crash posture: the swap itself is
    * [[graft.util.ArtifactTree]]'s; a crash AFTER the postings swap but
    * BEFORE the postings_deltas removal leaves the folded delta rows
    * visible twice through [[readPostings]] until the compaction is
    * re-run — a window [[serveBm25TopK]] serves EXACTLY through anyway
    * (distinct-doc df, max/first per-doc pivot; see the df comment
    * there), and the re-run's `distinct()` heals physically. Only the
    * ops counters ([[describeBm25Index]]'s `n_postings`/bucket sizes)
    * read inflated in that window. From the postings publish until the
    * rebuilt dictionary is stamped, the dictionary names a superseded
    * postings tree, so serves count df(t) from the postings. */
  def compactBm25Index(
      spark: SparkSession,
      path: String,
      targetFiles: Int = 8,
      graceVersions: Int = 1,
      graceMinAgeMs: Long = 0L): Unit = {
    val drop: DataFrame => DataFrame = tombstones(spark, path) match {
      case None => identity
      case Some(t) => df => df.join(t, Seq("doc_id"), "left_anti")
    }
    // fold streaming deltas into the partitioned main tree; `distinct`
    // makes a re-fold harmless (posting rows are unique by construction,
    // so duplicates only exist if a prior compaction crashed between the
    // swap and the delta removal below — the recovery is exact)
    val deltas = graft.util.ArtifactTree.readOptional(spark, path, "postings_deltas")
    // the folded rows ride a lazy checkpoint that the postings write
    // materializes, so the dictionary rebuild below reads exactly the
    // published rows without listing and re-reading the new tree
    // (disk-backed, freed with the RDD by the ContextCleaner)
    val published = graft.util.ArtifactTree.compact(spark, path, "postings", targetFiles,
      src => drop(deltas.fold(src)(d => src.unionByName(d)).distinct()).localCheckpoint(false),
      partitionCols = Seq("tok_bucket"),
      graceVersions = graceVersions, graceMinAgeMs = graceMinAgeMs)
    if (deltas.nonEmpty) graft.util.ArtifactTree.remove(spark, path, "postings_deltas")
    // the term dictionary is rebuilt from the postings just published
    // (deltas folded, tombstones dropped), then stamped with that tree;
    // until the stamp lands it fails validation and serves fall back.
    // The transform never reads the dictionary tree it replaces, so that
    // tree is neither read nor required (a legacy store has none).
    val postingsTree = graft.util.ArtifactTree.resolve(spark, path, "postings")
    val files = dictFiles(spark, postingsTree)
    graft.util.ArtifactTree.compact(spark, path, "df", files,
      _ => dictionaryOf(published, files), sortWithin = Seq("token"),
      graceVersions = graceVersions, graceMinAgeMs = graceMinAgeMs)
    writeDictionaryStamp(spark, graft.util.ArtifactTree.resolve(spark, path, "df"), postingsTree)
    // doclens deltas nest INSIDE the doclens tree, so the swap folds
    // them atomically; distinct for the same crash-recovery class
    graft.util.ArtifactTree.compact(spark, path, "doclens", targetFiles,
      df => drop(df.distinct()),
      graceVersions = graceVersions, graceMinAgeMs = graceMinAgeMs)
    graft.util.ArtifactTree.remove(spark, path, "tombstones")
    graft.util.ArtifactTree.remove(spark, path, "stats_net")
    refreshStats(spark, path)
  }

  /** Ops surface: document/posting/tombstone counts and the bucket
    * distribution (`max_bucket_postings` is the skew signal — a hot
    * bucket means a hot shard at serve time). One scan per artifact;
    * maintenance-class. Returns one row. */
  def describeBm25Index(spark: SparkSession, path: String): DataFrame = {
    val nDocs = readDoclens(spark, path).select(count(lit(1)).as("n_docs"))
    val nTomb = tombstones(spark, path) match {
      case None => nDocs.sparkSession.range(1).select(lit(0L).as("n_tombstones"))
      // distinct: delete retries may append duplicate tombstone rows
      case Some(t) => t.select(countDistinct(col("doc_id")).as("n_tombstones"))
    }
    // the whole tree, really read: every bucket is counted
    val post = withDeltas(spark, path, graft.util.SchemaMemo.parquet(spark,
        graft.util.ArtifactTree.resolve(spark, path, "postings")))
      .groupBy("tok_bucket").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum("n"), lit(0L)).as("n_postings"),
        count(lit(1)).as("n_buckets_used"),
        coalesce(max("n"), lit(0L)).as("max_bucket_postings"))
    nDocs.crossJoin(nTomb).crossJoin(post)
  }
}
