package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Knob-scaling probe for the SCALING.md study: times SemDeDup over a
  * data dir with a CONFIGURABLE cell count. SemDeDup's per-cell pair
  * generation is quadratic in cell size by design (the paper's
  * within-cluster restriction); its scale knob is `nCells` growing with
  * the corpus (the paper runs ~100k clusters at web scale, keeping cell
  * size — and therefore pair volume per row — constant). The oracle
  * query `q_semdedup` pins correctness at a FIXED toy nCells; this probe
  * measures the knob doing its job on scaled corpora.
  *
  * A second mode compares the two MinHash near-dup shapes (fused
  * signature-in-payload vs checkpoint+join, [[graft.dedup.Dedup]]) —
  * the SCALING.md shuffle-amplification experiment.
  *
  * Usage: runMain graft.ScaleProbe <dir> <nCells> [passes]
  *        runMain graft.ScaleProbe <dir> minhash_fused|minhash_join [passes]
  *        runMain graft.ScaleProbe <dir> ccstar:<via>:<n>|ccstar_check:<n> [passes]
  *          (ccstar with via=auto prints the per-round shape trace;
  *           ccstar_check runs auto AND window on the same fixture in one
  *           JVM and requires bitwise label identity — n ≥ ~20M puts the
  *           hub past AutoMinViaDegreeThreshold, the r19 flip run)
  *
  * A third mode measures the persisted dedup index
  * ([[graft.dedup.DedupIndexStore]]): `dedupidx_build` times the BUILD
  * job over the dir's corpus; `dedupidx_probe:<probeDir>` builds the
  * index ONCE (untimed) over the dir's corpus and times probing the
  * FIXED delta (`<probeDir>`'s doc_id%3==0 third) against it — the
  * production shape where the corpus grows but the daily delivery does
  * not, so the slope isolates the artifact-scan cost.
  * `dedupidx_probe_del:<probeDir>` is the same probe with 20% of the
  * corpus tombstoned (worst pre-compaction posture: a corpus-
  * proportional tombstone set riding the candidate anti-join).
  * `dedupidx_compact` / `ivfidx_compact` time the COMPACTION job
  * itself (per pass: fresh index + 20% tombstones built untimed, then
  * only the rewrite-and-swap measured) — the maintenance job's claimed
  * budget is "at most linear: it rewrites every surviving row once",
  * and this mode is what turns that claim into a slope. */
object ScaleProbe {
  /** The ccstar fixture: node 0 adjacent to every node in [1, n/2) —
    * max symmetrized degree n/2 − 1, so n ≥ ~20M puts the hub past
    * [[graft.dedup.Dedup.AutoMinViaDegreeThreshold]] — plus disjoint
    * 2-node components on [n/2, n). */
  private def starPairs(spark: SparkSession, n: Long) = {
    val half = n / 2
    val hub = spark.range(1, half)
      .select(lit(0L).as("id_a"), col("id").as("id_b"))
    val smalls = spark.range(half / 2)
      .select((col("id") * 2 + half).as("id_a"),
        (col("id") * 2 + half + 1).as("id_b"))
      .filter(col("id_b") < n)
    hub.union(smalls)
  }

  private def viaTraceJson(): String =
    graft.dedup.Dedup.lastAutoViaTrace.get.map("\"" + _ + "\"").mkString(",")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = args(1)
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Per-pass spill accounting (round 18, for the CC shape study): task
    // spill totals accumulated from stage-completion events, so a pass
    // line carries the evidence behind "the window straggler's spill
    // stays inside one task's disk bandwidth" instead of prose. Events
    // post asynchronously on the listener bus; the pass loop drains with
    // a short sleep before reading — a probe, not an accountant.
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) {
          spillDisk.addAndGet(m.diskBytesSpilled)
          spillMem.addAndGet(m.memoryBytesSpilled)
          ()
        }
      }
    })
    // probe mode: the index is a build artifact, not part of the
    // measured work — construct it once before the timed passes
    require(!mode.startsWith("dedupidx_probe") || mode.contains(":"),
      s"usage: dedupidx_probe:<probeDir> or dedupidx_probe_del:<probeDir> (got '$mode')")
    val dedupIdxDir: String =
      if (!mode.startsWith("dedupidx_probe")) null
      else {
        val d = graft.util.Scratch.dir("scale-didx").toString
        val corpus = spark.read.parquet(s"$dir/documents.parquet")
        graft.dedup.DedupIndexStore.writeDedupIndex(
          corpus, d, "text", "doc_id",
          numHashes = 32, shingleSize = 3, bands = 32, seed = 42L)
        // the _del variant probes with a LIVE corpus-scaled tombstone set
        // (20% of the index) — the worst pre-compaction posture
        if (mode.startsWith("dedupidx_probe_del:"))
          graft.dedup.DedupIndexStore.deleteFromDedupIndex(
            corpus.filter(col("doc_id") % 5 === 1).select("doc_id"), d)
        d
      }
    // bm25 serve/skew modes: the inverted index is a build artifact —
    // built once untimed, each pass times one served query (or batch),
    // or reads the bucket distribution
    val bm25IdxDir: String =
      if (mode != "bm25idx_serve" && mode != "bm25idx_buckets" &&
          !mode.startsWith("bm25idx_serve_batch:")) null
      else {
        val d = graft.util.Scratch.dir("scale-bm25").toString
        graft.similarity.Bm25IndexStore.writeBm25Index(
          spark.read.parquet(s"$dir/documents.parquet"), d, "text", "doc_id", nBuckets = 64)
        d
      }
    // Zipf-skew mode: the r16 bucket study held top-token df constant
    // while a real corpus grows it ∝ N — this mode builds the index
    // over a SYNTHETIC Zipf corpus (s≈1.1, vocab 100k, 100 tokens/doc,
    // bounded-Zipf inverse-CDF over a per-position hash draw, fully
    // deterministic) where stopword-class tokens appear in nearly
    // every document, prints the bucket distribution, and times a
    // serve whose query contains the HOTTEST term. bm25zipf:<nDocs>.
    // The shared bounded-Zipf corpus generator (s≈1.1, vocab 100k, 100
    // tokens/doc, inverse-CDF over a per-position hash draw, fully
    // deterministic): stopword-class tokens appear in ~every document,
    // so df(t1) = N exactly and grows with the corpus.
    def zipfDocs(n: Long): org.apache.spark.sql.DataFrame = {
      val vocab = 100000
      val s = 1.1
      val tailC = 1.0 - math.pow(vocab.toDouble, 1.0 - s) // CDF normalizer
      val u = (pmod(xxhash64(col("doc_id") * 101 + col("j")), lit(1000000000L))
        .cast("double") + 0.5) / 1e9
      val rank = least(greatest(
          pow(lit(1.0) - u * lit(tailC), lit(1.0 / (1.0 - s))), lit(1.0)),
        lit(vocab.toDouble)).cast("long")
      spark.range(n)
        .select(col("id").as("doc_id"), explode(sequence(lit(0), lit(99))).as("j"))
        .select(col("doc_id"), concat(lit("t"), rank).as("tok"))
        .groupBy("doc_id").agg(concat_ws(" ", collect_list(col("tok"))).as("text"))
    }
    val zipfIdxDir: String =
      if (!mode.startsWith("bm25zipf")) null
      else {
        val n = mode.split(":")(1).toLong
        val d = graft.util.Scratch.dir("scale-zipf").toString
        graft.similarity.Bm25IndexStore.writeBm25Index(
          zipfDocs(n), d, "text", "doc_id", nBuckets = 64)
        val post = spark.read.parquet(
          graft.util.ArtifactTree.resolve(spark, d, "postings"))
        val bd = post.groupBy("tok_bucket").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("buckets"), min("n").as("mn"),
            expr("percentile(n, 0.5)").as("p50"), max("n").as("mx")).head()
        val top = post.groupBy("token").agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("token")).limit(3).collect()
          .map(r => s""""${r.getAs[String]("token")}":${r.getAs[Long]("df")}""")
          .mkString("{", ",", "}")
        println(s"""{"mode":"$mode","buckets":${bd.getAs[Long]("buckets")},""" +
          s""""min":${bd.getAs[Long]("mn")},"p50":${bd.getAs[Double]("p50")},""" +
          s""""max":${bd.getAs[Long]("mx")},"top_df":$top}""")
        d
      }
    // ANN serve-batch mode: the IVFADC index is a build artifact too
    val ivfIdxDir: String =
      if (!mode.startsWith("ivfidx_serve_batch:")) null
      else {
        val d = graft.util.Scratch.dir("scale-ivfsrv").toString
        graft.similarity.IndexStore.writeIvfPqIndex(
          spark.read.parquet(s"$dir/embeddings.parquet"), d)
        d
      }
    // hybrid serve modes: BOTH persisted indexes over the dir's
    // documents (BM25 inverted + IVFADC over the SQL-replayable fixture
    // embedding) — built once untimed; hybrid_serve_batch:<n> times one
    // rrfServedBatch plan over n queries, hybrid_serve_one times the
    // per-call rrfServed — the batch-amortization pair for the fused
    // retrieval front end
    val hybridDirs: (String, String) =
      if (!mode.startsWith("hybrid_serve") && !mode.startsWith("hybrid_zipf")) null
      else {
        SparkEntry.embedFixtureRegistered
        // hybrid_zipf:<nDocs>:<batch> serves a WORST-REALISTIC load: the
        // indexes are built over the Zipf corpus and every query in the
        // batch carries the hottest term (df = N), so each query drags
        // the corpus-proportional posting list through the batched plan
        // — the r17 verdict's named trigger test for the df-threshold
        // sub-bucket split
        val docs =
          if (mode.startsWith("hybrid_zipf"))
            zipfDocs(mode.split(":")(1).toLong)
          else spark.read.parquet(s"$dir/documents.parquet")
        val bd = graft.util.Scratch.dir("scale-hybm25").toString
        graft.similarity.Bm25IndexStore.writeBm25Index(
          docs, bd, "text", "doc_id", nBuckets = 64)
        val ad = graft.util.Scratch.dir("scale-hyann").toString
        // eager checkpoint: the cell-count derivation below COUNTS this
        // frame and writeIvfPqIndex re-reads it several times (centroid
        // sample, codebook sample, encode) — without the checkpoint the
        // 600k-doc embed pipeline runs twice-plus just to build the
        // fixture (ADVICE r18)
        val vecs = graft.embed.Embedders
          .embed(docs.select(col("doc_id"), col("text")), "text", "embedding",
            SparkEntry.EmbedFixtureModelId)
          .select(col("doc_id").as("vec_id"), col("embedding"))
          .localCheckpoint(true)
        // cells ∝ corpus (the repo's own IVF rule): the fixture's 8 cells
        // are right for the sf dirs' thousands of vectors but at 600k the
        // 8-cell index makes every probe scan 3/8 of the corpus — the
        // batch-512 hot-load run OOM'd on exactly that before this scaled.
        // Round 19: the rule is the builder's DEFAULT (CellsAuto), so the
        // fixture exercises the same derivation production callers get
        graft.similarity.IndexStore.writeIvfPqIndex(
          vecs, ad, m = 2, kCent = 8)
        (bd, ad)
      }
    val hybridPool = Vector("spark", "join", "window", "scan", "filter", "sort",
      "merge", "hash", "batch", "table", "value", "query", "stream", "group",
      "order", "column", "data", "row", "key", "line", "part", "customer",
      "agg", "fast")
    // compact modes measure only the inner rewrite-and-swap; the
    // per-pass index setup runs inside run() but outside the slope
    var overrideSec: Option[Double] = None
    def run(): Long = mode match {
      case "bm25idx_build" =>
        val d = graft.util.Scratch.dir("scale-bm25-b").toString
        graft.similarity.Bm25IndexStore.writeBm25Index(
          spark.read.parquet(s"$dir/documents.parquet"), d, "text", "doc_id", nBuckets = 64)
        0L
      case "bm25idx_serve" =>
        graft.similarity.Bm25IndexStore.serveBm25TopK(
          spark, bm25IdxDir, Seq("spark", "join", "window"), k = 20, roundTo = 6)
          .collect().length.toLong
      case m if m.startsWith("bm25idx_serve_batch:") =>
        // batched serving: n two-term queries cycling a fixed corpus-word
        // pool through ONE join-shaped plan — the per-query-cost-vs-batch-
        // size measurement behind serveBm25TopKBatch's amortization claim
        val n = m.stripPrefix("bm25idx_serve_batch:").toInt
        import spark.implicits._
        val pool = Vector("spark", "join", "window", "scan", "filter", "sort",
          "merge", "hash", "batch", "table", "value", "query", "stream", "group",
          "order", "column", "data", "row", "key", "line", "part", "customer",
          "agg", "fast")
        val batch = (0 until n).map(i => (i.toLong,
            Seq(pool(2 * i % pool.length), pool((2 * i + 1) % pool.length))))
          .toDF("query_id", "terms")
        graft.similarity.Bm25IndexStore
          .serveBm25TopKBatch(batch, bm25IdxDir, k = 20, roundTo = 6)
          .count()
      case m if m.startsWith("ivfidx_serve_batch:") =>
        // the ANN side of the batch-amortization curve: n queries
        // through ONE serveIvfPqTopK call against the prebuilt IVFADC
        // index — the artifact collects, LUT broadcast, and cell-pruned
        // codes scan are per-BATCH costs
        val n = m.stripPrefix("ivfidx_serve_batch:").toInt
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        graft.similarity.IndexStore.serveIvfPqTopK(
          emb.filter(col("vec_id") < n), ivfIdxDir, k = 10, nProbe = 3).count()
      case m if m.startsWith("hybrid_serve_batch:") =>
        val n = m.stripPrefix("hybrid_serve_batch:").toInt
        import spark.implicits._
        val batch = (0 until n).map { i =>
          val t1 = hybridPool(2 * i % hybridPool.length)
          val t2 = hybridPool((2 * i + 1) % hybridPool.length)
          (i.toLong, Seq(t1, t2), s"$t1 $t2")
        }.toDF("query_id", "terms", "text")
        graft.similarity.HybridSearch.rrfServedBatch(
          batch, hybridDirs._1, hybridDirs._2, SparkEntry.EmbedFixtureModelId,
          k = 20, poolK = 20, nProbe = 3).count()
      case m if m.startsWith("hybrid_zipf_pruned:") =>
        val batch0 = m.stripPrefix("hybrid_zipf_pruned:").split(":")
        val nq = batch0(1).toInt
        import spark.implicits._
        val batch = (0 until nq).map { i =>
          val cold = s"t${3001 + 37 * i}"
          (i.toLong, Seq("t1", cold), s"t1 $cold")
        }.toDF("query_id", "terms", "text")
        graft.similarity.HybridSearch.rrfServedBatch(
          batch, hybridDirs._1, hybridDirs._2, SparkEntry.EmbedFixtureModelId,
          k = 20, poolK = 20, nProbe = 3, bm25PruneDf = batch0(0).toLong / 10).count()
      case m if m.startsWith("hybrid_zipf:") =>
        // every query: hottest term + a rotating cold-tail term, text
        // embeds the same two tokens — batch served through ONE
        // rrfServedBatch plan over the Zipf-built indexes
        val batch0 = m.stripPrefix("hybrid_zipf:").split(":")
        val nq = batch0(1).toInt
        import spark.implicits._
        val batch = (0 until nq).map { i =>
          val cold = s"t${3001 + 37 * i}"
          (i.toLong, Seq("t1", cold), s"t1 $cold")
        }.toDF("query_id", "terms", "text")
        graft.similarity.HybridSearch.rrfServedBatch(
          batch, hybridDirs._1, hybridDirs._2, SparkEntry.EmbedFixtureModelId,
          k = 20, poolK = 20, nProbe = 3).count()
      case "hybrid_serve_one" =>
        graft.similarity.HybridSearch.rrfServed(
          spark, hybridDirs._1, hybridDirs._2,
          Seq("spark", "join"), "spark join", SparkEntry.EmbedFixtureModelId,
          k = 20, poolK = 20, nProbe = 3).count()
      case m if m.startsWith("bm25zipf_batch_pruned:") =>
        // the MaxScore arm: same hot-term batch, pruneDf = 10% of the
        // corpus — t1 (df = N) prunes, the cold terms stay essential
        val parts = m.split(":")
        val nq = parts(2).toInt
        import spark.implicits._
        val batch = (0 until nq).map { i =>
          (i.toLong, Seq("t1", s"t${3001 + 37 * i}"))
        }.toDF("query_id", "terms")
        graft.similarity.Bm25IndexStore
          .serveBm25TopKBatch(batch, zipfIdxDir, k = 20, roundTo = 6,
            pruneDf = parts(1).toLong / 10)
          .count()
      case m if m.startsWith("bm25zipf_batch:") =>
        // the batched BM25 serve ALONE under the hot-term load — the
        // attribution arm for hybrid_zipf: every query carries t1
        // (df = N) plus a rotating cold term
        val nq = m.split(":")(2).toInt
        import spark.implicits._
        val batch = (0 until nq).map { i =>
          (i.toLong, Seq("t1", s"t${3001 + 37 * i}"))
        }.toDF("query_id", "terms")
        graft.similarity.Bm25IndexStore
          .serveBm25TopKBatch(batch, zipfIdxDir, k = 20, roundTo = 6)
          .count()
      case m if m.startsWith("bm25zipf_one_pruned:") =>
        // the per-call MaxScore arm under the hot-term query
        graft.similarity.Bm25IndexStore.serveBm25TopK(
          spark, zipfIdxDir, Seq("t1", "t17", "t3141"), k = 20, roundTo = 6,
          pruneDf = m.stripPrefix("bm25zipf_one_pruned:").toLong / 10)
          .collect().length.toLong
      case m if m.startsWith("bm25zipf:") =>
        // the hot-term query: t1 sits in ~every document, so its bucket
        // is the fattest shard — the serve must stream df(t1) ≈ N
        // posting rows through the pruned scan; t17/t3141 add a warm
        // and a cold bucket like a real mixed query
        graft.similarity.Bm25IndexStore.serveBm25TopK(
          spark, zipfIdxDir, Seq("t1", "t17", "t3141"), k = 20, roundTo = 6)
          .collect().length.toLong
      case "bm25idx_buckets" =>
        // the hot-token skew signal: per-bucket posting-row distribution
        // of the fnv(token)-routed partition tree, plus the fattest
        // tokens (at corpus scale a stopword-class token makes its
        // bucket arbitrarily fat — this mode is what decides whether
        // sub-bucketing is needed)
        val post = spark.read.parquet(s"$bm25IdxDir/postings")
        val d = post.groupBy("tok_bucket").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("buckets"), min("n").as("mn"),
            expr("percentile(n, 0.5)").as("p50"),
            expr("percentile(n, 0.9)").as("p90"), max("n").as("mx")).head()
        val top = post.groupBy("token").agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("token")).limit(3).collect()
          .map(r => s""""${r.getAs[String]("token")}":${r.getAs[Long]("df")}""")
          .mkString("{", ",", "}")
        println(s"""{"mode":"bm25idx_buckets","buckets":${d.getAs[Long]("buckets")},""" +
          s""""min":${d.getAs[Long]("mn")},"p50":${d.getAs[Double]("p50")},""" +
          s""""p90":${d.getAs[Double]("p90")},"max":${d.getAs[Long]("mx")},""" +
          s""""top_df":$top}""")
        d.getAs[Long]("buckets")
      case "dedupidx_compact" =>
        val d = graft.util.Scratch.dir("scale-didx-c").toString
        val corpus = spark.read.parquet(s"$dir/documents.parquet")
        graft.dedup.DedupIndexStore.writeDedupIndex(
          corpus, d, "text", "doc_id",
          numHashes = 32, shingleSize = 3, bands = 32, seed = 42L)
        graft.dedup.DedupIndexStore.deleteFromDedupIndex(
          corpus.filter(col("doc_id") % 5 === 1).select("doc_id"), d)
        val t0 = System.nanoTime()
        graft.dedup.DedupIndexStore.compactDedupIndex(spark, d)
        overrideSec = Some((System.nanoTime() - t0) / 1e9)
        0L
      case "ivfidx_compact" =>
        val d = graft.util.Scratch.dir("scale-ivfidx-c").toString
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        graft.similarity.IndexStore.writeIvfPqIndex(emb, d)
        graft.similarity.IndexStore.deleteFromIndex(
          emb.filter(col("vec_id") % 5 === 1).select("vec_id"), d)
        val t0 = System.nanoTime()
        graft.similarity.IndexStore.compactIvfIndex(spark, d)
        overrideSec = Some((System.nanoTime() - t0) / 1e9)
        0L
      case "dedupidx_build" =>
        val d = graft.util.Scratch.dir("scale-didx-b").toString
        graft.dedup.DedupIndexStore.writeDedupIndex(
          spark.read.parquet(s"$dir/documents.parquet"), d, "text", "doc_id",
          numHashes = 32, shingleSize = 3, bands = 32, seed = 42L)
        0L
      case m if m.startsWith("dedupidx_probe") =>
        graft.dedup.DedupIndexStore.probeDedupIndex(
          spark.read.parquet(s"${m.substring(m.indexOf(':') + 1)}/documents.parquet")
            .filter(col("doc_id") % 3 === 0),
          dedupIdxDir, "text", "doc_id", threshold = 0.125).count()
      case cc if cc.startsWith("ccskew:") =>
        // connectedComponents under the adversarial shape the object
        // doc names: ONE component spanning half the node domain (so
        // the component root's symmetrized neighborhood grows toward
        // n/2 as contraction proceeds — the window shape's skew
        // hazard), the other half small 2-node components.
        // ccskew:<window|groupby>:<nNodes> — generated in-memory,
        // deterministic (xxhash-derived extra edges), dir is unused.
        val parts = cc.stripPrefix("ccskew:").split(":")
        val via = parts(0)
        val n = parts(1).toLong
        val half = n / 2
        import spark.implicits._
        // mega component on [0, half): a chain (i, i+1) guaranteeing
        // connectivity + one pseudo-random long-range edge per node
        // (hash-derived), ~2 edges/node — web-boilerplate-cluster shape
        val chain = spark.range(half - 1)
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        val extra = spark.range(half)
          .select(col("id").as("id_a"),
            pmod(xxhash64(col("id")), lit(half)).as("id_b"))
          .filter(col("id_a") =!= col("id_b"))
        // small components on [half, n): disjoint pairs
        val smalls = spark.range(half / 2)
          .select((col("id") * 2 + half).as("id_a"),
            (col("id") * 2 + half + 1).as("id_b"))
          .filter(col("id_b") < n)
        val pairs = chain.union(extra).union(smalls)
        val ccRows = graft.dedup.Dedup.connectedComponents(pairs, minVia = via).count()
        if (via == "auto")
          println(s"""{"mode":"$cc","auto_via_trace":[${viaTraceJson()}]}""")
        ccRows
      case cc if cc.startsWith("ccstar:") =>
        // the maximum-skew shape: node 0 adjacent to EVERY node in
        // [1, n/2) from round one — the window shape's single fattest
        // possible partition (no contraction needed to build it)
        val parts = cc.stripPrefix("ccstar:").split(":")
        val via = parts(0)
        val n = parts(1).toLong
        val rows = graft.dedup.Dedup
          .connectedComponents(starPairs(spark, n), minVia = via).count()
        if (via == "auto")
          println(s"""{"mode":"$cc","auto_via_trace":[${viaTraceJson()}]}""")
        rows
      case cc if cc.startsWith("ccstar_check:") =>
        // label identity auto-vs-window ON THE SAME fixture in ONE JVM —
        // the r19 flip validation: past 10M max degree the auto probe
        // must actually pick groupby (the trace records each round's
        // decision) and its labels must be bitwise the window shape's
        val n = cc.stripPrefix("ccstar_check:").toLong
        def sig(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val r = df.agg(count(lit(1)),
            org.apache.spark.sql.functions.expr("bit_xor(xxhash64(id, label))")).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        val sa = sig(graft.dedup.Dedup.connectedComponents(starPairs(spark, n), minVia = "auto"))
        val trace = viaTraceJson()
        val sw = sig(graft.dedup.Dedup.connectedComponents(starPairs(spark, n), minVia = "window"))
        println(s"""{"mode":"$cc","auto_sig":[${sa._1},${sa._2}],""" +
          s""""window_sig":[${sw._1},${sw._2}],"auto_via_trace":[$trace],""" +
          s""""labels_equal":${sa == sw}}""")
        require(sa == sw, s"auto labels diverged from window: $sa vs $sw")
        sa._1
      case "snapshot_diff" =>
        // change detection between two deliveries derived from the
        // dir's corpus (the q_snapshot_diff split rules) — hash-only
        // full-outer join, the linear-at-worst claim under measurement
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        graft.dedup.Dedup.snapshotDiff(
          docs.filter(col("doc_id") % 11 =!= 0),
          docs.filter(col("doc_id") % 13 =!= 0)).count()
      case "minhash_fused" =>
        graft.dedup.Dedup.nearDuplicates(
          spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
          numHashes = 32, shingleSize = 3, bands = 32, threshold = 0.125, seed = 42L).count()
      case "minhash_join" =>
        graft.dedup.Dedup.nearDuplicatesViaJoin(
          spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
          numHashes = 32, shingleSize = 3, bands = 32, threshold = 0.125, seed = 42L).count()
      case "minhash_sig" => // the signature scan alone — cost attribution
        graft.dedup.Dedup.minHashSignatures(
          spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
          numHashes = 32, shingleSize = 3, seed = 42L)
          .select(org.apache.spark.sql.functions.element_at(col("signature"), 1)
            .cast("double").as("s1"))
          .agg(org.apache.spark.sql.functions.sum("s1"))
          .collect().length.toLong
      case tc if tc.startsWith("topic_cap:") =>
        // the topic tier's over-cap path at scale: maxDriverChunks pinned
        // to <cap> so fit-on-sample + distributed projection BINDS, with
        // the structure signals (topic count, assignment coverage)
        // printed next to the runtime — the "did sampling collapse the
        // topic structure" check the slope alone can't answer.
        // topic_cap:<cap>[:<reduceDims>] — the optional second knob is
        // the r16 over-cap study's named follow-up: at extreme topic
        // cardinality (~100 blobs at 100×) the reference's reduceDims=5
        // stops separating structure, and THIS is the knob that buys it
        // back
        val parts = tc.stripPrefix("topic_cap:").split(":")
        val cap = parts(0).toInt
        val rd = if (parts.length > 1) parts(1).toInt else 5
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val out = graft.topic.TopicModeling.run(docs, "text", "doc_id",
          cfg = graft.topic.TopicModeling.Config(maxDriverChunks = cap, reduceDims = rd))
        val n = out.documents.count()
        val assigned = out.documents.filter(col("dominant_topic") >= 0).count()
        println(s"""{"mode":"$tc","docs":$n,"assigned":$assigned,""" +
          s""""n_topics":${out.nTopics},"n_chunks":${out.nChunks}}""")
        n
      case tc if tc.startsWith("traincells:") =>
        // Lloyd training alone: traincells:<k>[:<sampleSize>] — k ≥
        // DistributedTrainFrom exercises the distributed partial-sum
        // path (the k≈thousands regime the nCells ∝ corpus rule needs)
        val parts = tc.stripPrefix("traincells:").split(":")
        val k = parts(0).toInt
        val ss = if (parts.length > 1) parts(1).toInt else 10000
        graft.similarity.Similarity.trainedCentroids(
          spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          k, 42L, ss).length.toLong
      case tc if tc.startsWith("traincells_driver:") =>
        // same knob forced through driver-side Lloyd — the comparison arm
        val parts = tc.stripPrefix("traincells_driver:").split(":")
        val k = parts(0).toInt
        val ss = if (parts.length > 1) parts(1).toInt else 10000
        graft.similarity.Similarity.trainedCentroids(
          spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          k, 42L, ss, distributedFrom = Int.MaxValue).length.toLong
      case nCells =>
        graft.similarity.Similarity.semDedup(
          spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          threshold = SparkEntry.SemDedupThreshold, nCells = nCells.toInt, seed = 42L).count()
    }
    // one untimed warmup, then median-style repeated passes (printed raw)
    val times = (0 to passes).map { p =>
      overrideSec = None
      spillDisk.set(0L); spillMem.set(0L)
      val t0 = System.nanoTime()
      val n = run()
      val sec = overrideSec.getOrElse((System.nanoTime() - t0) / 1e9)
      Thread.sleep(500) // drain the async listener bus before reading spill
      if (p > 0) println(f"""{"pass":$p,"mode":"$mode","rows":$n,"sec":$sec%.3f,""" +
        f""""spill_disk_bytes":${spillDisk.get},"spill_mem_bytes":${spillMem.get}}""")
      sec
    }
    val timed = times.drop(1).sorted
    println(f"""{"metric":"probe_median","dir":"$dir","mode":"$mode","sec":${timed(timed.length / 2)}%.3f}""")
    spark.stop()
  }
}
