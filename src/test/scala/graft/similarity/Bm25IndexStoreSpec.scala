package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted lexical-retrieval contract: serving from the inverted
  * index reproduces [[Bm25.search]] bit-for-bit, the takedown lifecycle
  * (delete → serve ≡ rebuild-without ≡ delete → compact → serve) is
  * exact, appends equal the one-shot build, and the serving scan prunes
  * to the query terms' posting buckets statically. */
class Bm25IndexStoreSpec extends SparkSpec {

  private val docsDir = "/root/testdata/sf0.001"
  private val Terms = Seq("spark", "join", "window")

  private def docs = spark.read.parquet(s"$docsDir/documents.parquet")

  private def newIndex(of: org.apache.spark.sql.DataFrame): String = {
    val dir = graft.util.Scratch.dir("bm25idx").toString
    Bm25IndexStore.writeBm25Index(of, dir, "text", "doc_id", nBuckets = 16)
    dir
  }

  private def serve(dir: String) =
    Bm25IndexStore.serveBm25TopK(spark, dir, Terms, k = 10, roundTo = 6)
      .collect().toSeq

  test("served top-k equals the in-session Bm25.search bit-for-bit") {
    val dir = newIndex(docs)
    val inSession = Bm25.search(docs, "text", "doc_id", Terms, k = 10, roundTo = 6)
      .collect().toSeq
    assert(serve(dir) == inSession)
  }

  test("takedown lifecycle: delete -> serve == rebuild-without == delete -> compact -> serve") {
    val gone = docs.filter(col("doc_id") % 4 === 1).select("doc_id")
    val dir = newIndex(docs)
    Bm25IndexStore.deleteFromBm25Index(gone, dir)
    val logical = serve(dir)
    // ground truth: an index never containing the deleted docs — df(t),
    // N, and avgdl must ALL reflect the takedown, not just the hit list
    val rebuilt = newIndex(docs.filter(col("doc_id") % 4 =!= 1))
    assert(logical == serve(rebuilt), "logical delete must equal a rebuild")
    Bm25IndexStore.compactBm25Index(spark, dir, targetFiles = 2)
    assert(serve(dir) == logical, "compaction must not change served results")
    val d = Bm25IndexStore.describeBm25Index(spark, dir).head()
    assert(d.getAs[Long]("n_tombstones") == 0L, "compaction clears tombstones")
    assert(d.getAs[Long]("n_docs") ==
      docs.filter(col("doc_id") % 4 =!= 1).count(), "doclens shrank physically")
  }

  test("append under the persisted config equals the one-shot build") {
    val dir = newIndex(docs.filter(col("doc_id") % 2 === 0))
    Bm25IndexStore.appendToBm25Index(docs.filter(col("doc_id") % 2 =!= 0), dir)
    assert(serve(dir) == serve(newIndex(docs)))
  }

  test("serving scan prunes statically to the query terms' buckets") {
    val dir = newIndex(docs)
    // round 22: the pruned scan rides a lazy localCheckpoint (one
    // postings scan per serve), so the pruning is asserted on the
    // captured pre-checkpoint scan plan, not the final block-read plan
    Bm25IndexStore.ServeProbe.capturePlans.set(true)
    val plan =
      try {
        Bm25IndexStore.serveBm25TopK(spark, dir, Terms, k = 10, roundTo = 6)
        Bm25IndexStore.ServeProbe.lastPrunedPostingsPlan.toString
      } finally Bm25IndexStore.ServeProbe.capturePlans.set(false)
    // static partition pruning: the bucket literals land in the scan's
    // PartitionFilters, and the token IN filter pushes to parquet
    assert(plan.contains("PartitionFilters: [") && plan.contains("tok_bucket"), plan)
    val m = Bm25IndexStore.readMeta(spark, dir)
    val buckets = Terms.map(Bm25IndexStore.bucketOf(_, m.nBuckets)).distinct
    buckets.foreach(bkt => assert(plan.contains(bkt.toString), s"bucket $bkt missing:\n$plan"))
    assert(plan.contains("PushedFilters") && plan.contains("In(token"), plan)
  }

  test("batched serve reproduces every per-call serve bit-for-bit") {
    import spark.implicits._
    val dir = newIndex(docs)
    val batch = Seq(
      (1L, Seq("spark", "join", "window")),
      (2L, Seq("scan", "filter")),
      (3L, Seq("sort", "merge", "hash", "batch")),
      // a term absent from the corpus (df = 0) and a duplicate term —
      // both per-call contract edges the batch must honor
      (4L, Seq("vector", "zzz_not_a_token", "vector", "stream"))
    ).toDF("query_id", "terms")
    val served = Bm25IndexStore
      .serveBm25TopKBatch(batch, dir, k = 10, roundTo = -1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val perCall = Seq(
      1L -> Seq("spark", "join", "window"),
      2L -> Seq("scan", "filter"),
      3L -> Seq("sort", "merge", "hash", "batch"),
      4L -> Seq("vector", "zzz_not_a_token", "stream")).flatMap { case (qid, terms) =>
      Bm25IndexStore.serveBm25TopK(spark, dir, terms, k = 10, roundTo = -1)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.sortBy(t => (t._1, -t._3, t._2))
    // bitwise: unrounded doubles compared exactly — the fold orders match
    assert(served == perCall)
  }

  test("MaxScore pruning (pruneDf) is bitwise the unpruned serve on every query shape") {
    import spark.implicits._
    // synthetic hot-term corpus: 'the' in all 60 docs (df = 60, idf ~
    // 0.008, ub ~ 0.018), six topic words in 10 docs each (idf ~ 1.76)
    // -> the margin proof PASSES for hot+essential queries at k=3
    val syn = (0L until 60L).map { i =>
      (i, s"the w${i % 6} filler$i the tail")
    }.toDF("doc_id", "text")
    val dir = {
      val d = graft.util.Scratch.dir("bm25-prune").toString
      Bm25IndexStore.writeBm25Index(syn, d, "text", "doc_id", nBuckets = 16)
      d
    }
    val batch = Seq(
      (1L, Seq("the", "w1")),       // hot + essential: pruned path, proof passes
      (2L, Seq("the")),             // all-hot: fallback to the unpruned plan
      (3L, Seq("w2", "w3")),        // no hot term: plain path
      (4L, Seq("the", "zzz_nope")), // essential matches nothing: n<k, fallback
      (5L, Seq("the", "w4", "w5"))  // two essentials: pruned path
    ).toDF("query_id", "terms")
    def rows(pruneDf: Long) = Bm25IndexStore
      .serveBm25TopKBatch(batch, dir, k = 3, roundTo = 6, pruneDf = pruneDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val unpruned = rows(Long.MaxValue)
    val pruned = rows(30L) // df('the') = 60 > 30; topic words df = 10 stay essential
    assert(pruned == unpruned, s"pruned diverged:\n$pruned\nvs\n$unpruned")
    // sanity: every query answers (q4's hot term still matches docs even
    // though its essential term is unknown — served via the fallback)
    assert(unpruned.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L))
    // and the per-call serve agrees on the pruned-path query (transitive
    // anchor to the per-call contract)
    val perCall = Bm25IndexStore.serveBm25TopK(spark, dir, Seq("the", "w1"), k = 3, roundTo = 6)
      .collect().map(r => (1L, r.getLong(0), r.getDouble(1)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    assert(pruned.filter(_._1 == 1L) == perCall)

    // the per-call MaxScore arm: pruned == unpruned on the pass shape,
    // the all-hot shape (immediate fallback), and the doomed-candidates
    // shape (sum df(ess) < k -> fallback before any phase-1 plan)
    def one(terms: Seq[String], pruneDf: Long) =
      Bm25IndexStore.serveBm25TopK(spark, dir, terms, k = 3, roundTo = 6, pruneDf = pruneDf)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for (terms <- Seq(Seq("the", "w1"), Seq("the"), Seq("the", "zzz_nope")))
      assert(one(terms, 30L) == one(terms, Long.MaxValue), s"per-call diverged on $terms")

    // round 19: the AUTO default (pruneDf omitted) derives max(1,
    // nDocs/10) = 6 from this index's stats, so every term here (df
    // 10-60) classifies hot and each query takes the all-hot fallback —
    // bitwise the disabled serve with zero caller configuration
    assert(rows(Bm25IndexStore.PruneDfAuto) == unpruned)
  }

  test("PruneDfAuto default: stats-derived threshold, pruned-path routing, bitwise parity") {
    import spark.implicits._
    // the derivation itself, spec-pinned (the serve is bitwise-invariant
    // by contract, so parity alone cannot show which threshold engaged)
    assert(Bm25IndexStore.resolvePruneDf(Bm25IndexStore.PruneDfAuto, 120L) == 12L)
    assert(Bm25IndexStore.resolvePruneDf(Bm25IndexStore.PruneDfAuto, 5L) == 1L) // never 0 on tiny corpora
    assert(Bm25IndexStore.resolvePruneDf(7L, 120L) == 7L)
    assert(Bm25IndexStore.resolvePruneDf(Long.MaxValue, 120L) == Long.MaxValue)
    intercept[IllegalArgumentException](Bm25IndexStore.resolvePruneDf(0L, 120L))
    intercept[IllegalArgumentException](Bm25IndexStore.resolvePruneDf(-2L, 120L))

    // 120 docs: 'the' df=120 > 12 (hot under auto), topic words df=10
    // (essential) — the ZERO-CONFIG batched serve routes the MaxScore
    // candidate path (the explicit-threshold test above pins routing
    // mechanics; this pins that auto lands on the same split) and stays
    // bitwise the disabled serve
    val syn = (0L until 120L).map(i => (i, s"the w${i % 12} filler$i the tail")).toDF("doc_id", "text")
    val dir = {
      val d = graft.util.Scratch.dir("bm25-auto").toString
      Bm25IndexStore.writeBm25Index(syn, d, "text", "doc_id", nBuckets = 16)
      d
    }
    val batch = Seq(
      (1L, Seq("the", "w1")),
      (2L, Seq("the")),
      (3L, Seq("w2", "w3")),
      (4L, Seq("the", "w4", "w5"))
    ).toDF("query_id", "terms")
    def rows(pruneDf: Long) = Bm25IndexStore
      .serveBm25TopKBatch(batch, dir, k = 3, roundTo = 6, pruneDf = pruneDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val auto = rows(Bm25IndexStore.PruneDfAuto)
    val off = rows(Long.MaxValue)
    val explicit = rows(12L) // what auto should resolve to here
    assert(auto == off, s"auto default diverged:\n$auto\nvs\n$off")
    assert(explicit == off)
    // per-call agrees under its auto default too
    val pc = Bm25IndexStore.serveBm25TopK(spark, dir, Seq("the", "w1"), k = 3, roundTo = 6)
      .collect().map(r => (1L, r.getLong(0), r.getDouble(1))).toSeq
    assert(auto.filter(_._1 == 1L) == pc)
  }

  test("batched serve reads its query frame once: a frame whose rows change between reads " +
      "serves its first read on the plain and the MaxScore route") {
    import spark.implicits._
    // the prune spec's hot-term corpus: 'the' df=60 (hot at pruneDf=30),
    // six topic words df=10 (essential)
    val syn = (0L until 60L).map(i => (i, s"the w${i % 6} filler$i the tail"))
      .toDF("doc_id", "text")
    val dir = graft.util.Scratch.dir("bm25-moving").toString
    Bm25IndexStore.writeBm25Index(syn, dir, "text", "doc_id", nBuckets = 16)
    // a UDF declared deterministic that is not: the terms it returns for
    // a query id follow a flag the test flips between the serve call
    // and its collect, as a source that moves between reads would
    def servedAgainst(a: Map[Long, Seq[String]], b: Map[Long, Seq[String]]) = {
      val terms = udf { (qid: Long) =>
        if (Bm25IndexStoreSpec.termSetB) b(qid) else a(qid) }
      val batch = a.keys.toSeq.sorted.toDF("query_id")
        .select(col("query_id"), terms(col("query_id")).as("terms"))
      Bm25IndexStoreSpec.termSetB = false
      val served = try {
        val df = Bm25IndexStore.serveBm25TopKBatch(batch, dir, k = 3, roundTo = 6, pruneDf = 30L)
        Bm25IndexStoreSpec.termSetB = true
        df.collect()
      } finally Bm25IndexStoreSpec.termSetB = false
      val perCall = a.toSeq.sortBy(_._1).flatMap { case (qid, ts) =>
        Bm25IndexStore.serveBm25TopK(spark, dir, ts, k = 3, roundTo = 6, pruneDf = 30L)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }
      (served.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq, perCall.sortBy(t => (t._1, -t._3, t._2)))
    }
    // no hot term: the plain route
    val (plain, plainPerCall) = servedAgainst(
      Map(1L -> Seq("w1", "w2"), 2L -> Seq("w3")),
      Map(1L -> Seq("w4"), 2L -> Seq("w5", "w0")))
    assert(plainPerCall.nonEmpty)
    assert(plain == plainPerCall, s"plain route served\n$plain\nvs per-call\n$plainPerCall")
    // hot + essential (q1 passes the proof) and all-hot (q2 falls back):
    // the engaged MaxScore route
    val (engaged, engagedPerCall) = servedAgainst(
      Map(1L -> Seq("the", "w1"), 2L -> Seq("the")),
      Map(1L -> Seq("the", "w1"), 2L -> Seq("w2")))
    assert(engagedPerCall.map(_._1).toSet == Set(1L, 2L))
    assert(engaged == engagedPerCall,
      s"engaged route served\n$engaged\nvs per-call\n$engagedPerCall")
  }

  test("batched serve honors tombstones exactly like the per-call path") {
    import spark.implicits._
    val dir = newIndex(docs)
    Bm25IndexStore.deleteFromBm25Index(
      docs.filter(col("doc_id") % 4 === 1).select("doc_id"), dir)
    val batch = Seq((1L, Seq("spark", "join", "window")), (2L, Seq("scan", "filter")))
      .toDF("query_id", "terms")
    val served = Bm25IndexStore.serveBm25TopKBatch(batch, dir, k = 10, roundTo = -1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val perCall = Seq(1L -> Seq("spark", "join", "window"), 2L -> Seq("scan", "filter"))
      .flatMap { case (qid, terms) =>
        Bm25IndexStore.serveBm25TopK(spark, dir, terms, k = 10, roundTo = -1)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.toSet
    assert(served == perCall)
  }

  test("batched serve degenerate edges: all-unknown terms, empty batch, mixed batch") {
    import spark.implicits._
    val dir = newIndex(docs)
    // every term unknown -> zero rows, correct schema
    val unknown = Seq((1L, Seq("zzz_nope", "zzz_also_nope"))).toDF("query_id", "terms")
    val r1 = Bm25IndexStore.serveBm25TopKBatch(unknown, dir, k = 5)
    assert(r1.columns.toSeq == Seq("query_id", "doc_id", "score"))
    assert(r1.count() == 0)
    // empty batch -> zero rows, no job failure
    val empty = Seq.empty[(Long, Seq[String])].toDF("query_id", "terms")
    assert(Bm25IndexStore.serveBm25TopKBatch(empty, dir, k = 5).count() == 0)
    // mixed batch: the unknown-terms query is simply absent; the live
    // query still serves exactly its per-call rows
    val mixed = Seq(
      (1L, Seq("zzz_nope")),
      (2L, Seq("spark", "join", "window"))).toDF("query_id", "terms")
    val served = Bm25IndexStore.serveBm25TopKBatch(mixed, dir, k = 10, roundTo = -1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served.forall(_._1 == 2L))
    val perCall = Bm25IndexStore.serveBm25TopK(spark, dir, Seq("spark", "join", "window"),
        k = 10, roundTo = -1)
      .collect().map(r => (2L, r.getLong(0), r.getDouble(1))).toSet
    assert(served == perCall)
  }

  test("batched serve scans postings a constant number of times and prunes statically") {
    import spark.implicits._
    val dir = newIndex(docs)
    def planOf(batch: org.apache.spark.sql.DataFrame) =
      Bm25IndexStore.serveBm25TopKBatch(batch, dir, k = 10, roundTo = 6)
        .queryExecution.executedPlan
    val small = Seq((1L, Seq("spark", "join"))).toDF("query_id", "terms")
    val large = Seq(
      (1L, Seq("spark", "join")), (2L, Seq("scan", "filter")),
      (3L, Seq("sort", "merge")), (4L, Seq("window", "batch")),
      (5L, Seq("hash", "stream")), (6L, Seq("vector", "value")),
      (7L, Seq("table", "query")), (8L, Seq("order", "group"))
    ).toDF("query_id", "terms")
    // scans whose path has a 'postings' (or versioned 'postings__vN')
    // directory, so 'postings_deltas' or an attribute merely containing
    // the word can never satisfy (or inflate) the constant-scan assertion
    def postingsScans(plan: org.apache.spark.sql.execution.SparkPlan): Int =
      graft.ScanPaths.count(plan, "postings")
    // round 22 (one-scan contract): the df aggregate materializes the
    // pruned postings scan into lazy-checkpoint blocks, so the FINAL
    // scoring plan contains ZERO postings file scans for any batch size
    // — the amortization claim strengthened from "constant" to "none";
    // the single real scan is the captured pre-checkpoint plan below
    Bm25IndexStore.ServeProbe.capturePlans.set(true)
    try {
      val smallScans = postingsScans(planOf(small))
      val largeScans = postingsScans(planOf(large))
      assert(smallScans == 0 && largeScans == 0,
        s"scoring plan must read checkpoint blocks, not postings: $smallScans/$largeScans")
      // the one postings scan (pre-checkpoint) is statically bucket-pruned
      val pruned = Bm25IndexStore.ServeProbe.lastPrunedPostingsPlan
      assert(postingsScans(pruned) == 1, pruned)
      assert(pruned.toString.contains("PartitionFilters: [") &&
        pruned.toString.contains("tok_bucket"), pruned)
    } finally Bm25IndexStore.ServeProbe.capturePlans.set(false)
  }

  test("streaming ingest lands exactly once across a mid-stream crash") {
    import spark.implicits._
    val oneShot = newIndex(docs)
    val inc = newIndex(docs.filter(col("doc_id") % 2 === 0))
    // the odd half staged as three files → three micro-batches
    val drop = graft.util.Scratch.dir("bm25-drop").toString
    for (slice <- 0 until 3)
      docs.filter(col("doc_id") % 2 =!= 0 && col("doc_id") % 6 === (1 + 2 * slice))
        .coalesce(1).write.mode("overwrite").parquet(s"$drop/slice$slice")
    val ckpt = graft.util.Scratch.dir("bm25-ckpt").toString
    val schema = docs.schema

    def ingest(kill: Boolean) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$drop/*")
      val gated =
        if (kill)
          stream.filter(udf { (id: Long) =>
            if (id % 6 == 3) throw new RuntimeException("injected mid-ingest failure")
            true
          }.apply(col("doc_id")))
        else stream
      Bm25IndexStore.streamAppendToBm25Index(gated, inc, ckpt, "text", "doc_id")
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      ingest(kill = true).awaitTermination()
    }
    assert(Bm25IndexStore.readDoclens(spark, inc).count() < docs.count(),
      "crash must leave the ingest incomplete")
    val q2 = ingest(kill = false)
    try q2.awaitTermination()
    finally q2.stop()

    // no duplicated, no dropped documents; served results equal the
    // one-shot build bit-for-bit (N, avgdl, df(t), scores, ranks)
    val ids = Bm25IndexStore.readDoclens(spark, inc).select("doc_id").as[Long].collect()
    assert(ids.length == ids.distinct.length, "every doc exactly once")
    assert(serve(inc) == serve(oneShot))

    // compaction folds the delta subtree into the partitioned main tree
    Bm25IndexStore.compactBm25Index(spark, inc, targetFiles = 2)
    assert(!graft.util.ArtifactTree.exists(spark, inc, "postings_deltas"),
      "compaction must remove the postings delta subtree")
    assert(serve(inc) == serve(oneShot), "serving unchanged by compaction")
  }

  test("batch append retried with the same batchId is idempotent") {
    val dir = newIndex(docs.filter(col("doc_id") % 2 === 0))
    val delta = docs.filter(col("doc_id") % 2 =!= 0)
    Bm25IndexStore.appendToBm25Index(delta, dir, batchId = "retry-me")
    val once = serve(dir)
    val nDocs = Bm25IndexStore.describeBm25Index(spark, dir).head().getAs[Long]("n_docs")
    // the blind retry after a presumed crash: same batch id rewrites the
    // same delta directories — rows land exactly once
    Bm25IndexStore.appendToBm25Index(delta, dir, batchId = "retry-me")
    assert(serve(dir) == once, "retried append must not change served results")
    val d2 = Bm25IndexStore.describeBm25Index(spark, dir).head()
    assert(d2.getAs[Long]("n_docs") == nDocs, "retried append must not duplicate doclens")
    assert(serve(dir) == serve(newIndex(docs)), "append still equals the one-shot build")
  }

  test("serving is exact through the compaction crash window (deltas visible twice)") {
    val dir = newIndex(docs.filter(col("doc_id") % 2 === 0))
    Bm25IndexStore.appendToBm25Index(docs.filter(col("doc_id") % 2 =!= 0), dir)
    val clean = serve(dir)
    // snapshot the delta rows, compact (folds them into the main tree and
    // removes the delta subtree), then resurrect the delta directory —
    // the half-state a compaction crash between the postings swap and the
    // postings_deltas removal leaves behind: every delta posting row is
    // now visible TWICE through readPostings
    val deltas = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/postings_deltas")
    val rows = deltas.collect().toIndexedSeq
    val schema = deltas.schema
    Bm25IndexStore.compactBm25Index(spark, dir, targetFiles = 2)
    assert(!graft.util.ArtifactTree.exists(spark, dir, "postings_deltas"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.parquet(s"$dir/postings_deltas/append-resurrected")
    // distinct-doc df + max/first pivot: scores bit-identical, not doubled
    assert(serve(dir) == clean, "crash-window serving must not double-count df(t)")
    // re-running the compaction heals the window physically
    Bm25IndexStore.compactBm25Index(spark, dir, targetFiles = 2)
    assert(!graft.util.ArtifactTree.exists(spark, dir, "postings_deltas"))
    assert(serve(dir) == clean)
  }

  test("pending-takedown serving reads the stats_net cache, never doclens") {
    val gone = docs.filter(col("doc_id") % 4 === 1).select("doc_id")
    val rebuilt = serve(newIndex(docs.filter(col("doc_id") % 4 =!= 1)))
    val dir = newIndex(docs)
    Bm25IndexStore.deleteFromBm25Index(gone, dir)
    // the behavioral pin: with the corpus-sized doclens artifact GONE,
    // serving still answers exactly — proof the per-query doclens scan
    // is no longer on the pending-delete path
    graft.util.ArtifactTree.remove(spark, dir, "doclens")
    assert(serve(dir) == rebuilt, "stats_net must carry the pending-delete serve")
  }

  test("a stale stats_net cache fails its stamp and serving falls back exactly") {
    val gone = docs.filter(col("doc_id") % 4 === 1).select("doc_id")
    val rebuilt = serve(newIndex(docs.filter(col("doc_id") % 4 =!= 1)))
    val dir = newIndex(docs)
    Bm25IndexStore.deleteFromBm25Index(gone, dir)
    // simulate the crashed-delete half-state: tombstones grew but the
    // cache refresh never ran — stamp the cache with a wrong count
    val stale = spark.read.parquet(s"$dir/stats_net")
      .withColumn("n_tombstones", lit(-1L))
    val staleRows = stale.collect().toIndexedSeq
    spark.createDataFrame(spark.sparkContext.parallelize(staleRows), stale.schema)
      .repartition(1).write.mode("overwrite").parquet(s"$dir/stats_net")
    assert(serve(dir) == rebuilt, "stamp mismatch must fall back to the exact doclens path")
  }

  /** Bm25.search over `corpus`, one query at a time, keyed like the
    * batched serve's rows. */
  private def oracle(corpus: org.apache.spark.sql.DataFrame,
      queries: Seq[(Long, Seq[String])], roundTo: Int = -1) =
    queries.flatMap { case (qid, terms) =>
      Bm25.search(corpus, "text", "doc_id", terms, k = 10, roundTo = roundTo)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.sortBy(t => (t._1, -t._3, t._2))

  private def batchRows(dir: String, queries: Seq[(Long, Seq[String])]) = {
    import spark.implicits._
    Bm25IndexStore.serveBm25TopKBatch(queries.toDF("query_id", "terms"), dir, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
  }

  private def perCallRows(dir: String, queries: Seq[(Long, Seq[String])]) =
    queries.flatMap { case (qid, terms) =>
      Bm25IndexStore.serveBm25TopK(spark, dir, terms, k = 10)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.sortBy(t => (t._1, -t._3, t._2))

  test("terms whose bucket directory does not exist serve exactly (sparse 1024-bucket index)") {
    val dir = graft.util.Scratch.dir("bm25-sparse").toString
    Bm25IndexStore.writeBm25Index(docs, dir, "text", "doc_id", nBuckets = 1024)
    val tree = new java.io.File(graft.util.ArtifactTree.resolve(spark, dir, "postings"))
    def exists(t: String) =
      new java.io.File(tree, s"tok_bucket=${Bm25IndexStore.bucketOf(t, 1024)}").isDirectory
    assert(Terms.forall(exists), "the corpus terms' buckets exist")
    val absent = Iterator.from(0).map(i => s"absent$i").filterNot(exists).take(2).toSeq
    val queries = Seq(1L -> (Terms ++ absent), 2L -> absent, 3L -> Seq(absent.head, "scan"))
    val expected = oracle(docs, queries)
    assert(expected.exists(_._1 == 1L) && !expected.exists(_._1 == 2L))
    assert(perCallRows(dir, queries) == expected)
    assert(batchRows(dir, queries) == expected)
    // a batch whose buckets are ALL absent: zero rows, the live schema
    val none = Bm25IndexStore.serveBm25TopKBatch({
      import spark.implicits._
      Seq((7L, absent)).toDF("query_id", "terms")
    }, dir, k = 10)
    assert(none.columns.toSeq == Seq("query_id", "doc_id", "score"))
    assert(none.schema("doc_id").dataType == docs.schema("doc_id").dataType)
    assert(none.collect().isEmpty && oracle(docs, Seq(7L -> absent)).isEmpty)
  }

  test("a compacted postings__vN tree with postings_deltas present serves exactly") {
    val even = docs.filter(col("doc_id") % 2 === 0)
    val dir = newIndex(even)
    Bm25IndexStore.compactBm25Index(spark, dir, targetFiles = 2)
    Bm25IndexStore.appendToBm25Index(docs.filter(col("doc_id") % 2 =!= 0), dir)
    assert(graft.util.ArtifactTree.resolve(spark, dir, "postings").matches(".*/postings__v\\d+"))
    assert(graft.util.ArtifactTree.exists(spark, dir, "postings_deltas"))
    val queries = Seq(1L -> Terms, 2L -> Seq("scan", "filter"), 3L -> Seq("sort", "zzz_nope"))
    val expected = oracle(docs, queries)
    assert(perCallRows(dir, queries) == expected)
    assert(batchRows(dir, queries) == expected)
  }

  test("pending tombstones serve exactly Bm25.search over the live documents") {
    val dir = newIndex(docs)
    Bm25IndexStore.deleteFromBm25Index(docs.filter(col("doc_id") % 3 === 0).select("doc_id"), dir)
    val queries = Seq(1L -> Terms, 2L -> Seq("scan", "filter"))
    val expected = oracle(docs.filter(col("doc_id") % 3 =!= 0), queries)
    assert(perCallRows(dir, queries) == expected)
    assert(batchRows(dir, queries) == expected)
  }

  test("an append or a compaction after a memoized serve moves N and avgdl in the next serve") {
    val dir = newIndex(docs.filter(col("doc_id") % 2 === 0))
    assert(serve(dir) == serve(newIndex(docs.filter(col("doc_id") % 2 === 0))))
    val q = Seq(1L -> Terms)
    // the memoized stats row must not survive the append's rewrite
    Bm25IndexStore.appendToBm25Index(docs.filter(col("doc_id") % 2 =!= 0), dir)
    assert(perCallRows(dir, q) == oracle(docs, q))
    // nor the compaction's: tombstones fold away, stats return to the
    // memoized one-row path with the smaller N
    val kept = docs.filter(col("doc_id") % 5 =!= 0)
    Bm25IndexStore.deleteFromBm25Index(docs.filter(col("doc_id") % 5 === 0).select("doc_id"), dir)
    Bm25IndexStore.compactBm25Index(spark, dir, targetFiles = 2)
    assert(perCallRows(dir, q) == oracle(kept, q))
    assert(batchRows(dir, q) == oracle(kept, q))
    assert(serve(dir) == serve(newIndex(kept)), "served == rebuild after the compaction")
  }

  /** Which path each per-call serve in `body` took for df(t):
    * (term-dictionary reads, distinct-doc counts over the postings). */
  private def dfRoutes(body: => Unit): (Long, Long) = {
    val p = Bm25IndexStore.ServeProbe
    val (d0, c0) = (p.dictionaryReads.get(), p.dfCounts.get())
    body
    (p.dictionaryReads.get() - d0, p.dfCounts.get() - c0)
  }

  private val Queries = Seq(1L -> Terms, 2L -> Seq("scan", "filter"), 3L -> Seq("sort", "zzz_nope"))

  test("term dictionary: a legacy store without df/ counts df, and compaction builds it") {
    val dir = newIndex(docs)
    graft.util.ArtifactTree.remove(spark, dir, "df")
    var rows: Seq[(Long, Long, Double)] = Nil
    assert(dfRoutes { rows = perCallRows(dir, Queries) } == ((0L, 3L)),
      "a store without a dictionary must take the distinct-count path")
    assert(rows == oracle(docs, Queries))
    Bm25IndexStore.compactBm25Index(spark, dir, targetFiles = 2)
    assert(dfRoutes { rows = perCallRows(dir, Queries) } == ((3L, 0L)),
      "compaction must build a dictionary the serve trusts")
    assert(rows == oracle(docs, Queries))
  }

  test("term dictionary: postings published but the dictionary not yet -> exact fallback") {
    val dir = newIndex(docs)
    assert(dfRoutes(perCallRows(dir, Queries)) == ((3L, 0L)), "a fresh build serves df from df/")
    // the compaction half-state: a new postings version is published and
    // the dictionary still names the old one
    graft.util.ArtifactTree.compact(spark, dir, "postings", 2, partitionCols = Seq("tok_bucket"))
    var rows: Seq[(Long, Long, Double)] = Nil
    assert(dfRoutes { rows = perCallRows(dir, Queries) } == ((0L, 3L)),
      "a dictionary stamped with a superseded postings version must not serve")
    assert(rows == oracle(docs, Queries))
    Bm25IndexStore.compactBm25Index(spark, dir, targetFiles = 2)
    assert(dfRoutes { rows = perCallRows(dir, Queries) } == ((3L, 0L)))
    assert(rows == oracle(docs, Queries))
  }

  test("term dictionary: an append missing its df delta falls back; the same-batchId retry heals it") {
    val dir = newIndex(docs.filter(col("doc_id") % 2 === 0))
    Bm25IndexStore.appendToBm25Index(docs.filter(col("doc_id") % 2 =!= 0), dir, batchId = "crash")
    // what a crash between the postings delta and the df delta leaves for
    // the dictionary: postings_deltas/append-crash with no df counterpart
    new java.io.File(graft.util.ArtifactTree.resolve(spark, dir, "df"), "append-crash")
      .listFiles().foreach(_.delete())
    var rows: Seq[(Long, Long, Double)] = Nil
    assert(dfRoutes { rows = perCallRows(dir, Queries) } == ((0L, 3L)),
      "postings deltas without matching dictionary deltas must not serve from df/")
    assert(rows == oracle(docs, Queries))
    Bm25IndexStore.appendToBm25Index(docs.filter(col("doc_id") % 2 =!= 0), dir, batchId = "crash")
    assert(dfRoutes { rows = perCallRows(dir, Queries) } == ((3L, 0L)),
      "the retried append must leave a dictionary the serve trusts")
    assert(rows == oracle(docs, Queries))
    assert(batchRows(dir, Queries) == oracle(docs, Queries))
  }

  test("term dictionary: a replayed stream batch rewrites its df delta and serves exactly") {
    val dir = newIndex(docs.filter(col("doc_id") % 2 === 0))
    val drop = graft.util.Scratch.dir("bm25-df-drop").toString
    for (slice <- 0 until 2)
      docs.filter(col("doc_id") % 2 =!= 0 && col("doc_id") % 4 === (1 + 2 * slice))
        .coalesce(1).write.mode("overwrite").parquet(s"$drop/slice$slice")
    val ckpt = graft.util.Scratch.dir("bm25-df-ckpt").toString
    def ingest() = {
      val q = Bm25IndexStore.streamAppendToBm25Index(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$drop/*"), dir, ckpt, "text", "doc_id")
      try q.awaitTermination() finally q.stop()
    }
    ingest()
    // batch 1 crashed after its postings delta: no df delta, no commit
    new java.io.File(graft.util.ArtifactTree.resolve(spark, dir, "df"), "delta-1")
      .listFiles().foreach(_.delete())
    Seq("1", ".1.crc").foreach(f => new java.io.File(s"$ckpt/commits/$f").delete())
    var rows: Seq[(Long, Long, Double)] = Nil
    assert(dfRoutes { rows = perCallRows(dir, Queries) } == ((0L, 3L)))
    assert(rows == oracle(docs, Queries))
    ingest() // the restart replays batch 1 under the same batch id
    assert(new java.io.File(s"$ckpt/commits/1").exists(), "batch 1 must be replayed")
    assert(dfRoutes { rows = perCallRows(dir, Queries) } == ((3L, 0L)))
    assert(rows == oracle(docs, Queries))
  }

  test("bucket routing: driver-side bucketOf matches the engine's column expression") {
    import spark.implicits._
    val toks = Seq("spark", "join", "window", "the", "zebra").toDF("token")
    val fromEngine = toks.select(col("token"),
        pmod(graft.text.TextAnalysis.fnv1a64(col("token")), lit(16L)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    fromEngine.foreach { case (t, b) =>
      assert(Bm25IndexStore.bucketOf(t, 16) == b, s"bucket mismatch for '$t'")
    }
  }
}

object Bm25IndexStoreSpec {
  /** Which term set the moving-frame spec's UDF returns; tasks run in
    * the driver JVM under `local[*]`, so they read this field. */
  @volatile var termSetB = false
}
