package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.PlainTokenizer
import graft.util.Settings

/** Deduplication operators for large-scale training-data pipelines.
  *
  * These go beyond the reference library's surface (its cache layer hashes
  * content for memoization, `/root/reference/src/cache.rs:23-27`, but it has
  * no dedup operators); they are designed for the 100 TB regime:
  *
  *   - '''Exact dedup''' is a hash-partitioned window over `sha256(text)` —
  *     one shuffle keyed by the digest, uniformly distributed by
  *     construction (no skew), no driver state.
  *   - '''MinHash/LSH near-dup''' NEVER compares all pairs: documents are
  *     shuffled on `(band_index, band_hash)` and only bucket-mates become
  *     candidate pairs — the classic banding scheme where a pair with
  *     Jaccard similarity s collides in ≥1 of b bands with probability
  *     1-(1-s^r)^b. All-pairs work is confined to within-bucket, and
  *     candidate verification is a key-partitioned join.
  *   - '''SimHash''' reduces each document to a 64-bit fingerprint;
  *     candidates share one of four 16-bit blocks (pigeonhole: any pair at
  *     Hamming distance ≤ 3 shares a block), then exact Hamming distance
  *     filters within buckets.
  *   - '''Token-set Jaccard''' verifies candidates with a token-keyed join
  *     restricted to a bucket column (an LSH band at scale; any cheap
  *     partition key for small corpora) — again never all-pairs.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Annotate each row with its content digest, duplicate rank (1 = keep)
    * and copy count. `normalized = true` hashes `clean_text`-normalized text
    * so trivially-reformatted copies collapse. One shuffle on the digest. */
  def exactDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      normalized: Boolean = false): DataFrame = {
    val content =
      if (normalized) graft.text.TextFunctions.cleanText(col(textCol))
      else coalesce(col(textCol), lit(""))
    val hashed = df.withColumn("content_hash", sha2(content, 256))
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    hashed
      .withColumn("dup_rank", row_number().over(w).cast("long"))
      .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("content_hash"))).cast("long"))
  }

  /** Keep only the first copy (smallest id) of each exact-duplicate group. */
  def dropExactDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      normalized: Boolean = false): DataFrame =
    exactDedup(df, textCol, idCol, normalized)
      .filter(col("dup_rank") === 1)
      .drop("dup_rank", "n_copies")

  // -------------------------------------------------------------- hashing

  /** FNV-1a 64-bit — deterministic, seed-mixable, dependency-free. */
  private[dedup] def fnv1a64(s: String, seed: Long = 0L): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Word n-gram shingle hashes of the tokenized (lowercased, punct-dropped)
    * text. Shorter texts fall back to unigram shingles so nothing hashes to
    * the empty set unless the text is blank. */
  private[dedup] def shingleHashes(text: String, n: Int): Array[Long] = {
    val toks = PlainTokenizer.tokenize(text, lowercase = true, removePunct = true).map(_.token)
    val grams =
      if (toks.isEmpty) Vector.empty[String]
      else if (toks.length < n) Vector(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toVector
    grams.iterator.map(fnv1a64(_)).toArray.distinct
  }

  private val MersennePrime = (1L << 61) - 1

  /** Seeded (a, b) pairs for the universal hash family
    * h_i(x) = (a_i·x + b_i) mod (2^61-1). Cached per (numHashes, seed) so
    * executors derive them once, not per row. */
  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), Array[(Long, Long)]]()

  private def hashParams(numHashes: Int, seed: Long): Array[(Long, Long)] =
    paramCache.computeIfAbsent((numHashes, seed), { case (n, s) =>
      val rnd = new scala.util.Random(s)
      Array.fill(n) {
        (math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1, math.abs(rnd.nextLong()) % MersennePrime)
      }
    })

  /** The seeded `(a_i, b_i)` pairs of the universal hash family, exposed so
    * an external checker (the DuckDB oracle) can recompute signatures from
    * the same constants — the config is shared, the computation is
    * independently re-derived. */
  def minHashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] =
    hashParams(numHashes, seed).toSeq

  private[dedup] def minHashSignature(
      text: String,
      numHashes: Int,
      shingleSize: Int,
      seed: Long): Array[Long] = {
    val shingles = shingleHashes(if (text == null) "" else text, shingleSize)
    val params = hashParams(numHashes, seed)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      // map into [0, p) once per shingle
      val x = java.lang.Long.remainderUnsigned(shingles(i), MersennePrime)
      var j = 0
      while (j < numHashes) {
        val (a, b) = params(j)
        val h = (mulMod61(a, x) + b) % MersennePrime
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** (a·b) mod (2^61-1) for 0 ≤ a,b < 2^61-1, exact: with p Mersenne,
    * 2^64 ≡ 8 and 2^61 ≡ 1 (mod p), so the 128-bit product hi·2^64 + lo
    * reduces to 8·hi + (lo & p) + (lo >>> 61); each term < 2^61. */
  private def mulMod61(a: Long, b: Long): Long = {
    val p = MersennePrime
    val hi = java.lang.Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (hi << 3) + (lo & p) + (lo >>> 61)
    while (r >= p) r -= p
    r
  }

  // ------------------------------------------------------------- minhash

  /** Per-document MinHash signatures: `(id, signature: Array[Long])`.
    * Deterministic for a fixed seed. Elementwise — no shuffle; the
    * signature is the codegen'd [[MinHashExpr]], so the fingerprint scan
    * stays inside whole-stage codegen (no ScalaUDF converter stack). */
  def minHashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      shingleSize: Int = 3,
      seed: Long = 42L): DataFrame = {
    val sig = org.apache.spark.sql.graft.Bridge.column(
      MinHashExpr(
        org.apache.spark.sql.graft.Bridge.expression(col(textCol)),
        numHashes, shingleSize, seed))
    df.select(col(idCol).as("id"), sig.as("signature"))
  }

  /** Component-agreement fraction of two MinHash signatures — the
    * unbiased Jaccard estimator, as pure Column algebra (zip_with +
    * aggregate): stays inside whole-stage codegen on the hot
    * per-candidate path. THE estimator: the in-session pair operators
    * and [[DedupIndexStore.probeDedupIndex]] must all score with this
    * exact expression or their results silently diverge. */
  private[dedup] def signatureAgreement(x: Column, y: Column): Column =
    when(size(x) > 0 && size(y) > 0,
      aggregate(
        zip_with(x, y, (u, v) => when(u === v, 1).otherwise(0)),
        lit(0),
        (acc, v) => acc + v).cast("double") / size(x))
      .otherwise(lit(0.0))

  /** `(band, band_hash)` keys for one signature column — the codegen'd
    * [[BandHashesExpr]] (bit-identical to the UDF-era
    * `fnv1a64(slice.mkString(","))` keys). */
  private[dedup] def bandHashes(sig: Column, bands: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      BandHashesExpr(org.apache.spark.sql.graft.Bridge.expression(sig), bands))

  /** LSH banding: explode each signature into `bands` band-hashes, shuffle
    * on `(band, band_hash)`, and emit candidate pairs from within each
    * bucket's member list — one pass over the signatures, no self-join.
    * (AQE can reuse a self-join's identical shuffle at runtime, but the
    * posting-list shape removes the join operator and its extra shuffles
    * outright and never depends on that reuse firing — any asymmetry
    * between join sides silently doubles the map work.) Per-row memory is
    * bounded by bucket size, the quantity LSH keeps small by design. No
    * all-pairs comparison ever happens. */
  def lshCandidatePairs(
      signatures: DataFrame,
      bands: Int = 32,
      maxBucket: Int = graft.util.PostingLists.DefaultMaxBucket): DataFrame = {
    val buckets = signatures
      .select(col("id"), explode(bandHashes(col("signature"), bands)).as("bh"))
      .select(col("id"), col("bh.band").as("band"), col("bh.band_hash").as("bucket"))
    graft.util.PostingLists
      .pairs(graft.util.PostingLists.members(
        buckets, Seq(col("band"), col("bucket")), struct(col("id")), maxBucket))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Near-duplicate pairs with their estimated Jaccard similarity: LSH
    * candidates verified by signature agreement (fraction of equal MinHash
    * components — an unbiased Jaccard estimator).
    *
    * One pass over the corpus: signatures ride the band-bucket member
    * lists, so candidate generation AND verification read a single
    * signature computation with zero joins (the candidates + two
    * signature-join shape carries three references to the signature
    * subtree and leans on AQE exchange reuse to avoid recomputing it).
    * Per-row memory is bounded by `maxBucket` × numHashes longs —
    * oversized buckets (exact-duplicate clusters; run [[exactDedup]]
    * first) are dropped, see [[graft.util.PostingLists]]. */
  def nearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      shingleSize: Int = 3,
      bands: Int = 32,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucket: Int = graft.util.PostingLists.DefaultMaxBucket): DataFrame = {
    val sigs = minHashSignatures(df, textCol, idCol, numHashes, shingleSize, seed)
    def est(x: Column, y: Column): Column = signatureAgreement(x, y)
    val banded = sigs
      .select(col("id"), col("signature"), explode(bandHashes(col("signature"), bands)).as("bh"))
      .select(col("id"), col("signature"), col("bh.band").as("band"), col("bh.band_hash").as("bucket"))
    // Estimate and threshold BEFORE the dedup shuffle: every collision of
    // a pair computes the same estimate, so filtering map-side shrinks the
    // exchange to the qualifying (id_a, id_b, est) triples — the signature
    // arrays never shuffle, and the multi-band dedup becomes a cheap hash
    // aggregate over doubles instead of a sort aggregate over arrays.
    graft.util.PostingLists
      .pairs(graft.util.PostingLists.members(
        banded, Seq(col("band"), col("bucket")), struct(col("id"), col("signature")), maxBucket))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        est(col("a.signature"), col("b.signature")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b") // a pair may collide in several bands
  }

  /** [[nearDuplicates]] in its LARGE-CORPUS shape: identical results,
    * different shuffle algebra. The fused shape above ships the full
    * signature on every band row — a `bands`× amplification of the
    * posting-list exchange (32 × 32 longs per doc here) that measures
    * super-linear once the shuffle outgrows memory (SCALING.md: slope
    * 1.20 for the 10×→100× decade). This variant shuffles band rows
    * id-only, checkpoints the signatures ONCE (the artifact a production
    * pipeline persists anyway), and joins them back to the deduplicated
    * candidates — so signatures cross the wire once per CANDIDATE side
    * instead of once per band row. Wins when `corpus × bands × sigBytes`
    * outgrows the shuffle comfort zone; at small scale the fused shape's
    * single pass wins, which is why both exist.
    *
    * Checkpoint durability: when the session has a checkpoint dir set
    * (`sc.setCheckpointDir` — the cluster posture this variant targets)
    * the signatures use RELIABLE `checkpoint()`, surviving executor
    * loss. Without one it falls back to `localCheckpoint` (executor
    * block storage) — fine single-JVM, but at cluster scale an executor
    * loss makes the blocks unrecoverable and fails the job, so
    * production callers should set a checkpoint dir. */
  def nearDuplicatesViaJoin(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      shingleSize: Int = 3,
      bands: Int = 32,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucket: Int = graft.util.PostingLists.DefaultMaxBucket): DataFrame = {
    // one signature pass feeds bands + both joins. The checkpoint
    // blocks are released by the ContextCleaner once the returned
    // plan's RDD becomes unreachable (the Bpe.trainedFor memo's
    // lifecycle argument) — callers looping this at scale should hold
    // only one result at a time
    val raw = minHashSignatures(df, textCol, idCol, numHashes, shingleSize, seed)
    val sigs =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) raw.checkpoint(true)
      else raw.localCheckpoint(true)
    def est(x: Column, y: Column): Column = signatureAgreement(x, y)
    // merge-hint: the signature table is corpus-sized and must never be
    // chosen as a broadcast build side (same hazard as the
    // bandedJaccardPairs token-set joins — observed OOM class at 10×)
    lshCandidatePairs(sigs, bands, maxBucket)
      .join(sigs.select(col("id").as("id_a"), col("signature").as("sig_a")).hint("merge"),
        Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("signature").as("sig_b")).hint("merge"),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        est(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** LSH candidates verified by EXACT Jaccard — the production
    * web-scale near-dup config: MinHash banding generates candidates
    * (never all-pairs, never a coarse metadata bucket), then the exact
    * token-set similarity decides. Complements [[nearDuplicates]]
    * (which keeps the cheap signature-agreement ESTIMATOR as the
    * verdict) for pipelines whose drop decisions need the true
    * similarity. Candidates come id-only from the capped posting lists;
    * token sets join back sorted for the zero-allocation two-pointer
    * intersect. */
  def bandedJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      shingleSize: Int = 3,
      bands: Int = 32,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucket: Int = graft.util.PostingLists.DefaultMaxBucket): DataFrame = {
    val sigs = minHashSignatures(df, textCol, idCol, numHashes, shingleSize, seed)
    val cands = lshCandidatePairs(sigs, bands, maxBucket)
    val docSets = df
      .select(col(idCol).as("id"),
        explode(graft.text.Tokenize.tokenize(col(textCol))).as("t"))
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("t.token"))).as("toks"))
    def intersectCount(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.Bridge.column(
        SortedIntersectCountExpr(
          org.apache.spark.sql.graft.Bridge.expression(a),
          org.apache.spark.sql.graft.Bridge.expression(b)))
    // merge-hint the token-set joins: docSets is CORPUS-SIZED, and at
    // 10× AQE's runtime estimate already slipped it under the broadcast
    // threshold — building a corpus-scaled HashedRelation on the driver
    // is the one join strategy guaranteed to die at 100 TB (observed:
    // intermittent broadcast OOM at scale10). SMJ spills gracefully and
    // the docSets exchange is reused across both joins.
    cands
      .join(docSets.select(col("id").as("id_a"), col("toks").as("toks_a")).hint("merge"),
        Seq("id_a"))
      .join(docSets.select(col("id").as("id_b"), col("toks").as("toks_b")).hint("merge"),
        Seq("id_b"))
      .withColumn("shared", intersectCount(col("toks_a"), col("toks_b")))
      .filter(col("shared") >= 1)
      .withColumn("jaccard",
        col("shared") / (size(col("toks_a")) + size(col("toks_b")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ------------------------------------------------------------- simhash

  /** 64-bit SimHash over token unigrams (term-frequency weighted). */
  private[dedup] def simHash64(text: String): Long = {
    val toks = PlainTokenizer.tokenize(if (text == null) "" else text).map(_.token)
    if (toks.isEmpty) return 0L
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = fnv1a64(t)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
    }
    var fp = 0L
    var bit = 0
    while (bit < 64) {
      if (acc(bit) > 0) fp |= (1L << bit)
      bit += 1
    }
    fp
  }

  /** Per-document SimHash fingerprints: `(id, simhash)` — the codegen'd
    * [[SimHashExpr]], same whole-stage-codegen argument as
    * [[minHashSignatures]]. */
  def simHashes(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = org.apache.spark.sql.graft.Bridge.column(
      SimHashExpr(org.apache.spark.sql.graft.Bridge.expression(col(textCol))))
    df.select(col(idCol).as("id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs at Hamming distance ≤ `maxDistance` (≤ 3 for
    * the 4-block pigeonhole to be exhaustive): candidates share one 16-bit
    * block, generated from within each block-bucket's member list (one
    * pass over the fingerprints — the self-join formulation would compute
    * the SimHash UDF over the corpus twice), verified by exact popcount. */
  def simHashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDistance: Int = 3,
      maxBucket: Int = graft.util.PostingLists.DefaultMaxBucket): DataFrame = {
    val fps = simHashes(df, textCol, idCol)
    val blocks = fps.select(
      col("id"),
      col("simhash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("block"), shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.block").as("block"), col("bk.key").as("key"))
    // Verify before the dedup shuffle: the popcount is identical for every
    // block collision of a pair, so the distance filter runs map-side and
    // only qualifying pairs reach the distinct's exchange.
    graft.util.PostingLists
      .pairs(graft.util.PostingLists.members(
        blocks, Seq(col("block"), col("key")), struct(col("id"), col("simhash")), maxBucket))
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .distinct()
  }

  // ---------------------------------------------------- embedding cosine

  /** Embedding-cosine near-duplicate pairs: candidates from sign-LSH
    * bucket member lists (one pass over the corpus, never all-pairs),
    * verified by exact cosine ≥ `threshold` '''map-side, before''' the
    * pair-dedup exchange — only qualifying `(id_a, id_b, sim)` triples
    * shuffle; the vectors never leave the map stage. Output:
    * `id_a, id_b, sim`. The embedding column is `Array[Float]` (e.g.
    * from `graft.embed.Embedders.embed`). */
  def embeddingNearDuplicates(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      tables: Int = 8,
      bits: Int = 8,
      seed: Long = 42L): DataFrame =
    graft.similarity.Similarity
      .lshSelfScored(df, idCol, vecCol, tables, bits, seed)
      .filter(col("sim") >= threshold)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"), col("sim"))
      .dropDuplicates("id_a", "id_b") // a pair may collide in several tables

  // ------------------------------------------------------------- jaccard

  /** Exact token-set Jaccard over candidate pairs restricted to a bucket
    * key (LSH band at scale; any blocking column for small corpora): pairs
    * are generated within `(bucket, token)` posting lists, never all-pairs.
    * Output: `id_a, id_b, jaccard`.
    *
    * Plan shape: ONE corpus scan + tokenize, no join. Each `(bucket,
    * token)` key aggregates its member list (doc id + token-set size,
    * which rides a pre-agg window) and pairs are exploded *within the
    * row*. Against the r3 self-join formulation this removes the join and
    * two of its shuffles and measured 2.4 s → 1.6 s at sf0.1 (AQE reused
    * the self-join's shuffle, so the win is the join machinery itself, and
    * the one-subtree shape never depends on runtime reuse firing). Per-row
    * memory is bounded by the posting-list length, i.e. the bucket size —
    * the same bound the join's matching phase has, and the documented
    * contract (bucket = LSH band at scale). */
  /** Winnowing-fingerprint near-duplicate pairs — the MOSS detection
    * pipeline end-to-end: each document reduces to its winnowed
    * fingerprint SET (~2/(w+1) of its shingles, [[graft.text.WinnowExpr]]),
    * and documents sharing at least `minShared` fingerprints pair up with
    * a containment-style overlap score `shared / min(|A|, |B|)`. The
    * winnowing guarantee transfers: two documents sharing any token run
    * of ≥ `window + shingleWords − 1` tokens share a fingerprint, so at
    * `minShared = 1` no such pair can be missed — unlike MinHash, whose
    * recall is only probabilistic.
    *
    * Plan shape: one scan + codegen'd fingerprint expression, per-doc
    * sets in one aggregation (set size rides the explode — no per-id
    * window), then the shared posting-list machinery: pairs expand
    * WITHIN each fingerprint's member list, `maxBucket`-capped, no
    * self-join. The shuffled payload is (8-byte fp, id, count) triples —
    * text and shingles never leave the scan. */
  def winnowNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleWords: Int = 4,
      window: Int = 4,
      minShared: Int = 2,
      maxBucket: Int = graft.util.PostingLists.DefaultMaxBucket): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val docFps = df
      .select(col(idCol).as("id"),
        explode(graft.text.TextAnalysis
          .winnowFingerprints(col(textCol), shingleWords, window)).as("f"))
      .groupBy(col("id"))
      .agg(collect_set(col("f.fp")).as("fps"))
      .select(col("id"), size(col("fps")).as("n_fp"), explode(col("fps")).as("fp"))
    graft.util.PostingLists
      .pairs(graft.util.PostingLists.members(
        docFps, Seq(col("fp")), struct(col("id"), col("n_fp")), maxBucket))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(
        count(lit(1)).as("n_shared"),
        first(col("a.n_fp")).as("n_a"),
        first(col("b.n_fp")).as("n_b"))
      .filter(col("n_shared") >= minShared)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("overlap"))
  }

  def jaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      bucket: Column,
      threshold: Double = 0.0,
      maxBucket: Int = graft.util.PostingLists.DefaultMaxBucket): DataFrame = {
    // per-doc token sets in ONE aggregation (collect_set subsumes the
    // separate distinct pass); NULL buckets are excluded, matching the
    // join semantics (NULL = NULL never matches) this formulation
    // replaced. Pairing is BUCKET-level on the set payloads with the
    // shared-token count from codegen'd array_intersect — one shuffle
    // (the members aggregation), pair volume bounded by maxBucket²/2 per
    // bucket, and NO per-token pair explosion: the previous
    // (bucket, token) posting-list formulation pushed |pairs|·|shared|
    // narrow rows through a second corpus-scale hash aggregate (~30× the
    // row volume on token-dense corpora), which made the query the
    // repo's most allocation-sensitive under JVM memory pressure. The
    // bucket column is the candidate generator (lang|source here, an LSH
    // band at web scale), so a bucket over maxBucket is dropped whole —
    // the cap contract [[graft.util.PostingLists.members]] documents.
    val docSets = df
      .select(col(idCol).as("id"), bucket.as("bucket"),
        explode(graft.text.Tokenize.tokenize(col(textCol))).as("t"))
      .filter(col("bucket").isNotNull)
      .groupBy(col("id"), col("bucket"))
      // sorted ONCE per doc so the per-pair count is a zero-allocation
      // two-pointer walk (SortedIntersectCountExpr), not a per-pair hash
      // set
      .agg(sort_array(collect_set(col("t.token"))).as("toks"))
    def intersectCount(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.Bridge.column(
        SortedIntersectCountExpr(
          org.apache.spark.sql.graft.Bridge.expression(a),
          org.apache.spark.sql.graft.Bridge.expression(b)))
    graft.util.PostingLists
      .pairs(graft.util.PostingLists.members(
        docSets, Seq(col("bucket")), struct(col("id"), col("toks")), maxBucket))
      .withColumn("shared", intersectCount(col("a.toks"), col("b.toks")))
      // ≥1 shared token: the posting-list contract this plan replaced —
      // disjoint same-bucket sets never surface, even at threshold 0
      .filter(col("shared") >= 1)
      .withColumn("jaccard",
        col("shared") / (size(col("a.toks")) + size(col("b.toks")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("jaccard"))
  }

  /** Edit-distance near-duplicate pairs — the short-text dedup tier
    * (exact Levenshtein catches the reorderings and typo-variants that
    * token-set Jaccard scores as identical and MinHash never surfaces).
    *
    * Scale: candidates are BUCKETED (`bucket`, e.g. lang|source or an LSH
    * band at web scale — never all-pairs) and the length band is IN THE
    * JOIN KEY, not a post-join filter: rows land in length stratum
    * `band = len / (maxDistance+1)`, and `|len_a − len_b| <= maxDistance`
    * (necessary for `lev <= maxDistance`) implies the two bands are equal
    * or adjacent — so each probe row joins only its own and the next
    * stratum instead of fanning out across the whole bucket. A dominant
    * bucket (one giant lang|source at corpus scale) therefore shuffles
    * into per-length strata rather than a quadratic self-join, and each
    * `(bucket, band)` stratum is capped at `maxBucket` rows (the
    * [[graft.util.PostingLists]] posture: a stratum that big is an
    * exact-dup cluster that belongs to `exactDedup` — run it first;
    * oversized strata are dropped whole, an explicit documented cap).
    * The DP itself is Spark's codegen'd `levenshtein(l, r, threshold)` —
    * banded O(len·k), early-exit −1 above the threshold. One shuffle on
    * the `(bucket, band)` key; text travels into the exchange once.
    *
    * Pair generation is exactly-once: a probe row is emitted at keys
    * `{band, band+1}` and matched against build rows at their home band.
    * Same-band pairs appear in both orientations → kept once via
    * `id_a < id_b`; cross-band pairs appear exactly once (the lower-band
    * row probing up) → kept unconditionally, then the output orientation
    * is canonicalized to `id_a < id_b`. */
  def editDistancePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      bucket: Column,
      maxDistance: Int,
      maxBucket: Int = graft.util.PostingLists.DefaultMaxBucket): DataFrame = {
    val side = df
      .select(col(idCol).as("id"), bucket.as("bucket"), coalesce(col(textCol), lit("")).as("t"))
      .filter(col("bucket").isNotNull)
      .withColumn("len", length(col("t")))
      .withColumn("band", floor(col("len") / (maxDistance + 1)))
      .withColumn("stratum_n", count(lit(1)).over(Window.partitionBy(col("bucket"), col("band"))))
      .filter(col("stratum_n") <= maxBucket)
    val probe = side.select(
      col("id").as("id_a"), col("bucket"),
      explode(array(col("band"), col("band") + 1)).as("key"),
      col("band").as("band_a"), col("t").as("t_a"), col("len").as("len_a"))
    val build = side.select(
      col("id").as("id_b"), col("bucket"), col("band").as("key"),
      col("t").as("t_b"), col("len").as("len_b"))
    probe.join(build, Seq("bucket", "key"))
      .filter(
        ((col("key") === col("band_a") && col("id_a") < col("id_b")) ||
          col("key") === col("band_a") + 1) &&
          abs(col("len_a") - col("len_b")) <= maxDistance)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDistance))
      .filter(col("dist") >= 0)
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("dist").cast("long").as("dist"))
  }

  // -------------------------------------------------- cluster resolution

  /** Connected components over an undirected pair list by ALTERNATING
    * STAR CONTRACTION — the large-star / small-star algorithm of
    * Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii 2014
    * ("Connected Components in MapReduce and Beyond", SoCC'14), which
    * converges in O(log² n) rounds REGARDLESS of component shape — the
    * property min-label propagation lacks: propagation is
    * O(component diameter) rounds, fine for near-clique duplicate
    * groups (diameter 2–3) but linear-round on a pathological
    * chain-shaped component. Both operations preserve connectivity and
    * monotonically contract components toward a star rooted at the
    * minimum member id:
    *
    *   - large-star (per node u over the SYMMETRIZED neighborhood):
    *     connect every strictly-larger neighbor to
    *     `m = min(Γ(u) ∪ {u})` — emit `(v, m)` for v ∈ Γ(u), v > u;
    *   - small-star (per node u over edges DIRECTED large→small):
    *     connect every smaller-or-equal neighbor and u itself to m —
    *     emit `(w, m)` for w ∈ Γ(u) ∪ {u}, w ≠ m.
    *
    * The fixpoint is the star forest `(member, root)` with root = the
    * component minimum, so labels are deterministic and identical to
    * what min-label propagation produces. Each round is bounded
    * shuffle algebra with no UNSPILLABLE per-node state — unlike
    * hash-to-min, where the minimum node accumulates its whole
    * component into ONE row (a true OOM bomb for web-scale duplicate
    * groups).
    *
    * The per-node neighborhood min has TWO physical shapes, selected
    * by `minVia` (label-identical, spec-pinned):
    *
    *   - `"window"` (the default): the min rides `Window.partitionBy
    *     (u)` over the SAME exchange that groups the neighborhood —
    *     one exchange per star op. WindowExec buffers each node's
    *     partition in an `ExternalAppendOnlyUnsafeRowArray` that
    *     SPILLS past 4096 in-memory rows, so a mega-component's root
    *     (whose symmetrized neighborhood grows toward component size
    *     as contraction proceeds) degrades to a spilling straggler
    *     task, never an OOM. Measured on the adversarial fixtures
    *     SCALING.md records (a 1M-node half-domain component, and a
    *     pure 1M-leaf star — the fattest possible single partition):
    *     the window shape WINS at every scale tried, 1.2–1.4×,
    *     because the saved exchange outweighs a spill that stays
    *     inside one task's disk bandwidth at these component sizes;
    *   - `"groupby"`: `groupBy(u).agg(min(v))` + join-back — the min
    *     rides MAP-SIDE COMBINE and the join streams, so NO task ever
    *     buffers a neighborhood, at the price of a second exchange
    *     per star op. The insurance shape for the regime past the
    *     measured range — a component root whose neighborhood
    *     (≳100M edges, RefinedWeb-class boilerplate clusters) would
    *     turn the window task's spill into minutes of single-task
    *     disk I/O; the groupby straggler streams the same rows
    *     without materializing them;
    *   - `"auto"` (round 18): the shape is picked PER ROUND from the
    *     deciding statistic itself — the max symmetrized degree of the
    *     current edge set, one `groupBy(node).count` aggregate over the
    *     already-checkpointed blocks. Degree above
    *     [[AutoMinViaDegreeThreshold]] (50M since round 19 — re-set
    *     from the flip measurement, which found window faster AND more
    *     heap-robust through 30M degree; see the val's scaladoc) picks
    *     `groupby`, otherwise `window`. The
    *     probe only RUNS while the edge count (free — it rides the
    *     convergence signature) exceeds the threshold: max degree is
    *     bounded by the edge count, so below it the answer is `window`
    *     with zero extra jobs — at fixture scale `auto` is the window
    *     shape plus nothing, and the ≤10% auto-overhead bound in
    *     SCALING.md's round-18 table is measured, not argued. Re-
    *     deciding per round (not just on round one, which the input
    *     degree alone would support) matters because contraction GROWS
    *     root neighborhoods toward component size: a 100M-node chain
    *     enters with max degree 2 and only develops its mega-root
    *     mid-run, exactly when the per-round statistic sees it.
    *
    * Convergence detection: each round's edge set is lazily
    * `localCheckpoint`ed and ONE driver action computes its
    * (count, xxhash64-xor) signature — equal signatures on identical
    * sets always; a false positive needs a 64-bit hash-xor collision
    * between consecutive DIFFERENT edge sets (~2⁻⁶⁴/round). The lazy
    * checkpoint + signature-in-one-job posture matches the iterative
    * pattern documented on the propagation loop this replaces: the
    * plan would otherwise grow exponentially with rounds.
    *
    * Throws if `maxIterations` rounds don't converge — a silent partial
    * contraction would under-merge and leak duplicates downstream. */
  /** `minVia = "auto"`'s switch point: max symmetrized degree above
    * which a round runs the groupby shape. RE-SET from 10M to 50M by the
    * r19 flip run (SCALING.md): the r18 value sat 10× under a PROJECTED
    * ~100M-edge window-spill crossover, and when the flip finally fired
    * for real (12M-degree mega-star, 18M edges) the measurement
    * contradicted the projection — window 48.5 s vs groupby 66.5 s
    * (1.37×, window's one-task spill a bounded 0.86 GB), with the
    * auto→groupby pick costing 90.2 s once the per-round degree probe is
    * included; at 30M degree the window shape was the only one to
    * COMPLETE in the probe heap (the "spill-free" groupby OOM'd — its
    * extra exchange and join-back hold more transient memory than
    * WindowExec's spillable buffer ever did). So the switch now sits
    * ABOVE the measured range: window everywhere measurement reaches
    * (where it is faster and more heap-robust), groupby retained as
    * insurance for the true cluster regime (a ≳100M-row neighborhood in
    * ONE window task = single-task disk-sort straggler minutes, on
    * executors whose local disks are slower than this box's). Labels
    * are bitwise-identical across shapes at every scale tried
    * (ccstar_check, spec + probe). */
  val AutoMinViaDegreeThreshold: Long = 50000000L

  /** Per-round `minVia` decisions of the most recent `minVia = "auto"`
    * [[connectedComponents]] run on the CALLING THREAD — the measurement
    * hook that lets ScaleProbe's cc modes RECORD which shape the auto
    * probe picked each contraction round (SCALING.md r19: the flip to
    * `groupby` is observed in a real >10M-degree run, not projected).
    * Thread-local (ADVICE r19: a JVM-global var let two concurrent auto
    * runs clear and interleave each other's traces); cleared at the
    * start of each auto run; not part of the operator contract. */
  private[graft] val lastAutoViaTrace: ThreadLocal[List[String]] =
    ThreadLocal.withInitial(() => Nil)

  /** Edge-count ceiling for the DRIVER union-find fast path (round 21,
    * guide §1.2 "the distributed algorithm" + §3.1's broadcast-class
    * size reasoning): a delta-class pair set — the common shape for
    * near-dup pairs over a probe delta, and the entire bench regime —
    * pays ~(rounds+1) multi-exchange star-contraction plans plus a
    * signature barrier per round, all to contract a few thousand edges.
    * Under this ceiling the deduped edge set is collected ONCE from the
    * already-checkpointed blocks (2M edges ≈ tens of MB — the same
    * driver budget class as a broadcast join side) and labeled by exact
    * union-find with the identical min-member-label contract, so labels
    * are bitwise the contraction's (spec-pinned parity). Above the
    * ceiling — any real corpus-scale pair set, e.g. ScaleProbe's 18-24M
    * edge fixtures — the distributed star contraction runs untouched.
    * Ops override: `-Dgraft.cc.driverMaxEdges=N` (0 disables). */
  val DriverCcMaxEdgesDefault: Long = 2000000L
  private[graft] def driverCcMaxEdges: Long =
    Settings.parsed("graft.cc.driverMaxEdges", sys.props.get("graft.cc.driverMaxEdges"),
      DriverCcMaxEdgesDefault, "a long edge count (0 disables the driver fast path)")(
      _.toLongOption)

  /** Exact driver-side union-find over the collected edge rows, labels =
    * min member id per component (the star-contraction fixpoint's exact
    * contract). Returns None when any id is null (the distributed path
    * owns null semantics). Self-pairs surface their node as a singleton,
    * like the contraction. */
  private def driverUnionFind(
      rows: Array[org.apache.spark.sql.Row],
      lt: (Any, Any) => Boolean): Option[(Array[Any], Array[Any])] = {
    val idx = new java.util.HashMap[Any, Integer](rows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Any](rows.length * 2)
    val parent = new scala.collection.mutable.ArrayBuffer[Int](rows.length * 2)
    def of(a: Any): Int = {
      var got = idx.get(a)
      if (got == null) {
        got = Integer.valueOf(ids.length)
        idx.put(a, got); ids += a; parent += got.intValue()
      }
      got.intValue()
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      val (ra, rb) = (find(of(r.get(0))), find(of(r.get(1))))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      i += 1
    }
    val n = ids.length
    val minLab = new Array[Any](n)
    i = 0
    while (i < n) {
      val r = find(i)
      if (minLab(r) == null || lt(ids(i), minLab(r))) minLab(r) = ids(i)
      i += 1
    }
    val labels = new Array[Any](n)
    i = 0
    while (i < n) { labels(i) = minLab(find(i)); i += 1 }
    Some((ids.toArray, labels))
  }

  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIterations: Int = 30,
      minVia: String = "window"): DataFrame = {
    require(minVia == "groupby" || minVia == "window" || minVia == "auto",
      s"connectedComponents: minVia must be 'groupby', 'window' or 'auto', got '$minVia'")
    // Only small-star (the end of a round) canonicalizes with distinct —
    // large-star's duplicate emissions are absorbed by small-star's
    // neighborhood min, and the set semantics the xor-signature needs
    // hold at the round boundary.
    //
    // window shape: ONE u-partitioned exchange per star op — the min
    // rides a partitioned window over the same shuffle that groups the
    // neighborhood (WindowExec buffers each node's partition: the
    // skew-free regime's shape).
    // groupby shape: the min is a partial aggregate (map-side combine,
    // no buffering) joined back — a second exchange per star op, but
    // no task ever holds a neighborhood in memory (the mega-component
    // shape; see the object doc and SCALING.md).
    def largeStar(e: DataFrame, via: String): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val withM =
        if (via == "window") {
          val w = Window.partitionBy("u")
          sym.withColumn("m", least(min(col("v")).over(w), col("u")))
        } else {
          val mins = sym.groupBy("u").agg(min(col("v")).as("__mn"))
          sym.join(mins, Seq("u"))
            .withColumn("m", least(col("__mn"), col("u")))
        }
      withM
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame, via: String): DataFrame = {
      val dir = e.select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      // m ≤ u by direction, so u itself re-roots to m
      val (perEdge, perNode) =
        if (via == "window") {
          val w = Window.partitionBy("u")
          val withM = dir.withColumn("m", min(col("v")).over(w))
          (withM, withM.select(col("u"), col("m")))
        } else {
          val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
          (dir.join(mins, Seq("u")), mins)
        }
      perEdge.select(col("v").as("u"), col("m").as("v"))
        .union(perNode.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // ONE eager checkpoint of the deduped input pairs: every round —
    // and the final node/label derivation — reads these blocks, so the
    // (possibly corpus-scanning) upstream pair plan executes exactly
    // once. Self-pairs are kept here (their nodes must surface as
    // singleton clusters) and dropped from the contraction edges below.
    val e0 = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .distinct()
      .localCheckpoint(true)

    // Delta-class fast path (round 21, see DriverCcMaxEdgesDefault): count
    // the checkpointed edge set (one bounded job over materialized
    // blocks); under the ceiling, collect it once and label by exact
    // union-find — identical labels, ~(rounds+1) multi-exchange plans
    // and their per-round signature barriers replaced by one collect.
    // Only id types whose driver ordering provably matches Spark's
    // `min`/`least` take the path; anything else (and any null id) runs
    // the distributed contraction unchanged.
    val spark = pairs.sparkSession
    val uDt = e0.schema("u").dataType
    val driverLt: Option[(Any, Any) => Boolean] =
      if (uDt != e0.schema("v").dataType) None
      else uDt match {
        case org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.ByteType =>
          Some((a, b) => a.asInstanceOf[Number].longValue() < b.asInstanceOf[Number].longValue())
        case org.apache.spark.sql.types.StringType =>
          // UTF8String's binary (UTF-8 byte = code-point) order is what
          // Spark's min/least/> use on strings; java String.compareTo
          // orders by UTF-16 code UNIT, which diverges for ids mixing
          // supplementary-plane characters (U+10000+, surrogate-encoded
          // below U+E000) with U+E000–U+FFFF — the driver path would pick
          // a different min-member label than the distributed contraction
          // (ADVICE r21 medium; parity spec covers non-BMP ids)
          Some { (a, b) =>
            org.apache.spark.unsafe.types.UTF8String
              .fromString(a.asInstanceOf[String])
              .compareTo(org.apache.spark.unsafe.types.UTF8String
                .fromString(b.asInstanceOf[String])) < 0
          }
        case _ => None
      }
    var countedEdges = -1L
    val maxDriverEdges = driverCcMaxEdges
    if (driverLt.nonEmpty && maxDriverEdges > 0L) {
      // Gate + collect (round 22, ADVICE r21 low): explicit-shape runs
      // gate with take(ceiling+1) over the checkpointed blocks — under
      // the ceiling the returned rows ARE the collect (one incremental
      // action instead of count-then-collect), and an over-ceiling set
      // stops the fetch at ceiling+1 rows instead of paying a full count
      // whose result nothing downstream consumes. Auto keeps the
      // count-then-collect shape: its round-1 shape probe reuses the
      // exact edge count, which an early-stopped take can't provide.
      val gated: Option[Array[org.apache.spark.sql.Row]] =
        if (minVia != "auto" && maxDriverEdges < Int.MaxValue.toLong) {
          val rows = e0.take(maxDriverEdges.toInt + 1)
          if (rows.length <= maxDriverEdges) {
            countedEdges = rows.length // exact: the take exhausted the set
            Some(rows)
          } else None
        } else {
          countedEdges = e0.count()
          if (countedEdges <= maxDriverEdges) Some(e0.collect()) else None
        }
      gated.flatMap(driverUnionFind(_, driverLt.get)) match {
        case Some((ids, labels)) =>
          if (minVia == "auto") lastAutoViaTrace.set(List("driver"))
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", uDt, nullable = true),
            org.apache.spark.sql.types.StructField("label", uDt, nullable = true)))
          val out: java.util.List[org.apache.spark.sql.Row] =
            java.util.Arrays.asList(
              ids.indices.map(i =>
                org.apache.spark.sql.Row(ids(i), labels(i))): _*)
          return spark.createDataFrame(out, schema)
        case None => () // over ceiling, or a null id: distributed path
      }
    }

    var e = e0.filter(col("u") =!= col("v"))
    // "auto": pick the min shape per round from the deciding statistic.
    // The degree probe is gated on the edge count (max symmetrized
    // degree ≤ edge count, so a set under the threshold can only answer
    // "window" — no job runs); the count itself is free after round one
    // because the convergence signature already computes it, and round
    // one pays one count() over the eagerly-checkpointed blocks.
    var edgeCount = countedEdges // the fast-path gate's count, when it ran
    def resolveVia(): String =
      if (minVia != "auto") minVia
      else {
        if (edgeCount < 0) edgeCount = e.count()
        if (edgeCount <= AutoMinViaDegreeThreshold) "window"
        else {
          val md = e.select(col("u")).union(e.select(col("v").as("u")))
            .groupBy("u").agg(count(lit(1)).as("d"))
            .agg(coalesce(max(col("d")), lit(0L))).head().getLong(0)
          if (md > AutoMinViaDegreeThreshold) "groupby" else "window"
        }
      }
    if (minVia == "auto") lastAutoViaTrace.set(Nil)
    var prevSig = (-1L, -1L)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val via = resolveVia()
      if (minVia == "auto") lastAutoViaTrace.set(lastAutoViaTrace.get :+ via)
      val next = smallStar(largeStar(e, via), via)
        .localCheckpoint(false) // lazy: the signature job below materializes it
      val sig = next
        // bit_xor, not sum: ANSI-safe (no overflow) and order-free; the
        // set is distinct so nothing self-cancels
        .agg(count(lit(1)).as("n"), expr("bit_xor(xxhash64(u, v))").as("h"))
        .head()
      val s = (sig.getLong(0), if (sig.isNullAt(1)) 0L else sig.getLong(1))
      converged = s == prevSig
      prevSig = s
      edgeCount = s._1 // refresh the auto gate for free
      e = next
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIterations rounds — " +
        "raise maxIterations")

    // star-forest fixpoint: every non-root carries exactly one (u, root)
    // edge; roots carry none and label themselves. The min-aggregate is
    // a no-op on the fixpoint (one row per node) — defense in depth.
    val nodes = e0.select(col("u").as("id"))
      .union(e0.select(col("v").as("id")))
      .distinct()
    val parents = e.groupBy(col("u").as("id")).agg(min(col("v")).as("parent"))
    nodes.join(parents, Seq("id"), "left")
      .select(col("id"), coalesce(col("parent"), col("id")).as("label"))
  }

  /** Transitive duplicate clusters from a near-dup pair list. Near-
    * duplicate relations are not transitive pairwise (A≈B, B≈C but
    * A̸≈C), yet a curation pipeline must keep ONE representative per
    * connected group — this resolves the pair edges the MinHash/
    * SimHash/Jaccard/cosine operators emit into
    * `(doc_id, cluster_id, n_members)`, where `cluster_id` is the
    * smallest member id (the canonical keep-candidate). Components come
    * from [[connectedComponents]] — O(log² n)-round star contraction,
    * so a pathological chain-shaped component converges in logarithmic
    * rounds instead of diameter rounds (`DuplicateClustersSpec` pins
    * label identity against ground-truth union-find, including an
    * adversarial chain). */
  def duplicateClusters(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIterations: Int = 30,
      minVia: String = "window"): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIterations, minVia)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))

  /** Snapshot diff — the change-detection pass an incremental curation
    * pipeline runs between corpus deliveries: classify every id as
    * `added` / `removed` / `changed` / `unchanged` by content hash, so
    * downstream stages (re-tokenize, re-embed, re-index) touch only the
    * changed slice instead of the corpus.
    *
    * Scale shape: each snapshot is projected to `(id, sha256)` before
    * the join — text never rides the shuffle — and the full-outer join
    * co-partitions both sides on the id (one exchange each at 100 TB,
    * no skew: ids are unique per side by contract). */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    def hashed(df: DataFrame, as: String) =
      df.select(col(idCol), sha2(coalesce(col(textCol), lit("")), 256).as(as))
    hashed(oldSnap, "old_hash")
      .join(hashed(newSnap, "new_hash"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") =!= col("new_hash"), lit("changed"))
          .otherwise(lit("unchanged")))
      .select(col(idCol), col("status"))
  }

  /** Quality-ranked survivor selection: keep, from each duplicate
    * cluster, the member that maximizes `scoreCol` (ties broken by
    * smallest id — fully deterministic), plus every document that
    * appears in no cluster. The production representative policy:
    * near-dup groups usually hold truncated/boilerplate variants of one
    * page, and curation keeps the fullest or highest-quality version,
    * not the one with the smallest id (RefinedWeb/Dolma keep-longest
    * posture).
    *
    * Scale shape: cluster resolution is pair-domain-sized (only docs
    * that appear in a pair enter [[connectedComponents]]); the argmax
    * is one window PARTITIONED by cluster_id over that small relation;
    * the corpus is touched exactly once, on the final left-anti probe
    * — same budget as the min-id survivors path. */
  def survivorsByQuality(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "n_chars",
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val labels = duplicateClusters(pairs, aCol, bCol)
      .select(col("doc_id").as(idCol), col("cluster_id"))
    val ranked = labels
      .join(docs.select(col(idCol), col(scoreCol)), Seq(idCol))
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(col(scoreCol).desc, col(idCol))))
    val losers = ranked.filter(col("rk") > 1).select(idCol)
    docs.join(losers, Seq(idCol), "left_anti")
  }
}
