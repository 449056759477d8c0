package graft.similarity

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Hybrid lexical+semantic retrieval via reciprocal-rank fusion
  * (Cormack, Clarke & Büttcher 2009, "Reciprocal Rank Fusion outperforms
  * Condorcet and individual rank learning methods"):
  *
  * {{{ rrf(d) = Σ_lists 1 / (rrfK + rank_d) }}}
  *
  * over a BM25 keyword list ([[Bm25.search]]) and an embedding-cosine
  * list against one query vector. The standard retrieval front end of a
  * training-data pipeline (decontamination audits, targeted corpus
  * probes, eval-neighborhood inspection) where neither pure lexical nor
  * pure semantic recall suffices.
  *
  * Scale design (100 TB): BM25 contributes its two elementwise
  * zero-shuffle scans; the semantic side is ONE embed+cosine scan feeding
  * a bounded `TakeOrdered` top-`poolK` (the [[Similarity.cosineFast]]
  * fused expression — whole-stage codegen, no HOF fallback). Both
  * candidate lists are cut to `poolK` BEFORE anything else happens, so
  * only ≤ 2·poolK rows ever leave those scans. Ranks are then assigned
  * positionally on the driver over the two collected lists — a bounded
  * barrier like the quantile/rate-table collects elsewhere in the repo,
  * NOT a single-partition window exchange — and the fused ≤ 2·poolK-row
  * local relation is rounded, sorted and cut to `k` in Spark. Nothing
  * corpus-proportional ever shuffles or reaches the driver.
  *
  * Determinism: both lists rank by (score rounded to `roundTo`, doc id)
  * — the [[Bm25.search]] rounding-before-cut contract — so ranks, the
  * poolK cut, and the fused order are reproducible bit-for-bit by an
  * independent checker that re-derives the same rounded scores.
  */
object HybridSearch {

  /** Round 22 (guide §2.6 "overlap independent jobs"): the lexical and
    * semantic legs of the served fusions are INDEPENDENT until the fuse
    * — but their driver-side construction (the BM25 serve's bounded
    * collects + checkpoint materialization; the embed + ANN probe
    * collects) ran sequentially, leaving the cluster idle during each
    * leg's driver barriers. The legs build on two driver threads so
    * one leg's jobs back-fill the other's barriers — Spark's scheduler
    * runs concurrent jobs FIFO by design. Results are unchanged: the
    * legs share only the eagerly checkpointed query frame and meet
    * again at the deterministic fusion. Exceptions from either leg
    * propagate unchanged. */
  private def joinLegs[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(a)
    val rb = b
    (Await.result(fa, Duration.Inf), rb)
  }

  /** Fuse BM25 over `terms` with cosine against `queryText`'s embedding
    * (both embedded under `modelId`). Returns the top `k` as
    * `(doc_id, r_lex, r_sem, rrf)` — list ranks nullable when a document
    * appears in only one list. */
  def rrf(
      df: DataFrame,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      queryText: String,
      modelId: String,
      k: Int = 20,
      poolK: Int = 50,
      rrfK: Int = 60,
      roundTo: Int = 6): DataFrame = {
    val spark = df.sparkSession

    // independent legs on two driver threads (joinLegs; guide §2.6) —
    // both are TakeOrdered top-poolK collects IN rank order (≤ poolK
    // rows each); the caller's df is read, never mutated
    val (lexIds, semIds) = joinLegs(
      Bm25.search(df, textCol, idCol, terms, k = poolK, roundTo = roundTo)
        .orderBy(col("score").desc, col("doc_id").asc)
        .select("doc_id")
        .collect()
        .map(_.get(0)): Array[Any],
      {
        val qVec: Array[Float] =
          graft.embed.EmbedderRegistry.ensure(modelId).encodeBatch(Seq(queryText)).head
        graft.embed.Embedders
          .embed(df.select(col(idCol).as("doc_id"), col(textCol).as("__t")), "__t", "__e", modelId)
          .select(col("doc_id"),
            round(Similarity.cosineFast(col("__e"), typedLit(qVec.toSeq)), roundTo).as("__s"))
          .filter(col("__s").isNotNull)
          .orderBy(col("__s").desc, col("doc_id").asc)
          .limit(poolK)
          .select("doc_id")
          .collect()
          .map(_.get(0)): Array[Any]
      })

    fuse(spark, lexIds, semIds, df.schema(idCol).dataType, k, rrfK, roundTo)
  }

  /** The positional-rank fusion both entry points share: ranks assigned
    * over the two ≤ poolK collected lists, fused locally, rounded,
    * sorted and cut to `k` in Spark. */
  private def fuse(
      spark: org.apache.spark.sql.SparkSession,
      lexIds: Array[Any],
      semIds: Array[Any],
      idType: org.apache.spark.sql.types.DataType,
      k: Int,
      rrfK: Int,
      roundTo: Int): DataFrame = {
    val rLex = lexIds.iterator.zipWithIndex.map { case (id, i) => (id, i + 1L) }.toMap
    val rSem = semIds.iterator.zipWithIndex.map { case (id, i) => (id, i + 1L) }.toMap
    def part(r: Option[Long]): Double = r.fold(0.0)(x => 1.0 / (rrfK + x))
    val fused: Seq[Row] = (lexIds ++ semIds).distinct.toSeq.map { id =>
      Row(id, rLex.get(id).map(Long.box).orNull, rSem.get(id).map(Long.box).orNull,
        part(rLex.get(id)) + part(rSem.get(id)))
    }

    val schema = StructType(Seq(
      StructField("doc_id", idType, nullable = true),
      StructField("r_lex", LongType, nullable = true),
      StructField("r_sem", LongType, nullable = true),
      StructField("__rrf", DoubleType, nullable = false)))
    spark.createDataFrame(fused.asJava, schema)
      .select(col("doc_id"), col("r_lex"), col("r_sem"),
        round(col("__rrf"), roundTo).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The SERVED hybrid stack — both candidate lists read from PERSISTED
    * indexes, no corpus scan anywhere: the lexical list from the BM25
    * inverted index ([[Bm25IndexStore.serveBm25TopK]] — ≤|terms| posting
    * buckets via static pruning) and the semantic list from the IVFADC
    * index ([[IndexStore.serveIvfPqTopK]] — nProbe of nCells cell
    * directories via dynamic pruning, ADC over stored codes). This is
    * the production retrieval front end: the corpus was tokenized,
    * embedded and encoded ONCE at build time; a query costs two pruned
    * artifact reads and a ≤2·poolK-row fusion.
    *
    * The semantic list is the ANN index's answer (approximate by
    * design — probed cells + ADC distances), NOT the in-session exact
    * cosine — the honest production trade [[rrf]]'s oracle-twin query
    * quantifies via q_knn_probe_recall. The query vector embeds under
    * `modelId` and enters with id −1 (never a corpus id, so the
    * serve-path self-exclusion is inert). Fusion, rounding, ties and
    * the final cut are [[rrf]]'s exactly. */
  def rrfServed(
      spark: org.apache.spark.sql.SparkSession,
      bm25Dir: String,
      annDir: String,
      terms: Seq[String],
      queryText: String,
      modelId: String,
      k: Int = 20,
      poolK: Int = 20,
      rrfK: Int = 60,
      roundTo: Int = 6,
      nProbe: Int = 3,
      bm25PruneDf: Long = Bm25IndexStore.PruneDfAuto): DataFrame = {
    import spark.implicits._
    // the two legs are independent until the fuse — build and collect
    // them on two driver threads (joinLegs; guide §2.6) so each leg's
    // bounded driver barriers overlap the other's cluster work
    val ((lexIds, idType), semIds) = joinLegs(
      {
        val lexServed =
          Bm25IndexStore.serveBm25TopK(spark, bm25Dir, terms, k = poolK,
            roundTo = roundTo, pruneDf = bm25PruneDf)
        // the fused schema's doc-id type comes from the index artifact,
        // like everything else served — a hardcoded LongType would break
        // createDataFrame on an index built over a non-Long id column
        val ids: Array[Any] = lexServed
          .orderBy(col("score").desc, col("doc_id").asc)
          .select("doc_id")
          .collect()
          .map(_.get(0))
        (ids, lexServed.schema("doc_id").dataType)
      },
      {
        val qVec: Array[Float] =
          graft.embed.EmbedderRegistry.ensure(modelId).encodeBatch(Seq(queryText)).head
        val qDf = Seq((-1L, qVec.toSeq)).toDF("vec_id", "embedding")
        val ids: Array[Any] =
          IndexStore.serveIvfPqTopK(qDf, annDir, k = poolK, nProbe = nProbe)
            .orderBy(col("rank").asc)
            .select("neighbor_id")
            .collect()
            .map(_.get(0))
        ids
      })
    fuse(spark, lexIds, semIds, idType, k, rrfK, roundTo)
  }

  /** Serve a BATCH of hybrid queries from the persisted indexes in a
    * CONSTANT number of plans — the last per-query serving front end
    * batch-amortized: [[rrfServed]] pays two sequential serves plus a
    * driver-side fusion PER QUERY, while a production retrieval job
    * answers a whole query log per run. Here the batch shares
    * everything:
    *
    *   - `queries` is a DataFrame `(queryIdCol, termsCol:
    *     array<string>, textCol: string)` — one row per query, terms
    *     distinct per row (the per-call contract), text the semantic
    *     query,
    *   - the lexical lists come from ONE
    *     [[Bm25IndexStore.serveBm25TopKBatch]] plan (postings scanned
    *     ONCE per batch, static bucket pruning — the batched-BM25
    *     contract), ranked per query by the per-call `(score desc,
    *     doc_id asc)` tie rule,
    *   - the semantic lists come from ONE
    *     [[IndexStore.serveIvfPqTopK]] plan over the embedded query
    *     table (the serve is natively batched: one codes read, dynamic
    *     cell pruning over the batch's probe union). Query texts embed
    *     DISTRIBUTED through [[graft.embed.Embedders.embed]] — bitwise
    *     the per-call driver encode because every bundled model is
    *     batch-size-invariant (spec-pinned for the transformer engine),
    *   - queries enter the ANN serve under SYNTHETIC NEGATIVE ids
    *     (distinct query ids collected sorted — query-proportional
    *     driver traffic, the batched-BM25 bucket-collect class — and
    *     mapped to −1, −2, …), so the serve-path self-exclusion is
    *     inert exactly like [[rrfServed]]'s fixed −1 even when caller
    *     query ids collide with corpus doc ids,
    *   - fusion is one full-outer join on `(query_id, doc_id)` over
    *     the two ≤ |batch|·poolK-row rank lists with [[rrf]]'s exact
    *     arithmetic (lex part + sem part in that order, absent side
    *     contributing literal 0.0, Spark `round` at `roundTo`), and the
    *     per-query cut is a `row_number` window with the `(rrf desc,
    *     doc_id asc)` tie rule.
    *
    * Result: `(query_id, doc_id, r_lex, r_sem, rrf)` — for every query,
    * bitwise the rows [[rrfServed]] returns for it (spec-pinned).
    * The caller's `queries` plan is consumed by THREE subtrees (the id
    * collect, the BM25 serve, the embed), so it is eagerly
    * `localCheckpoint`ed here — a CORRECTNESS requirement, not a
    * performance nicety: a nondeterministic source (an unseeded sample,
    * a bare limit) could otherwise yield query ids at serve time that
    * were absent from the collected qid map, and those semantic rows
    * would be silently dropped by the inner join. The checkpoint
    * evaluates the caller's plan exactly once (|batch| rows — bounded)
    * and every downstream read hits the materialized blocks.
    * `bm25PruneDf` passes through to the lexical serve's exact MaxScore
    * pruning ([[Bm25IndexStore.serveBm25TopKBatch]]) — rows identical
    * either way, cost bounded when the query log carries stopword-class
    * terms. Defaults to the store's stats-derived auto threshold
    * ([[Bm25IndexStore.PruneDfAuto]], round 19); `Long.MaxValue`
    * disables. */
  def rrfServedBatch(
      queries: DataFrame,
      bm25Dir: String,
      annDir: String,
      modelId: String,
      queryIdCol: String = "query_id",
      termsCol: String = "terms",
      textCol: String = "text",
      k: Int = 20,
      poolK: Int = 20,
      rrfK: Int = 60,
      roundTo: Int = 6,
      nProbe: Int = 3,
      bm25PruneDf: Long = Bm25IndexStore.PruneDfAuto): DataFrame = {
    val spark = queries.sparkSession
    // one evaluation of the caller's plan, shared by all three consumers
    // (see the scaladoc's correctness note)
    val q = queries.localCheckpoint(true)
    val qid = col(queryIdCol).as("query_id")

    // the two legs are independent until the fuse — build them on two
    // driver threads (joinLegs; guide §2.6): the BM25 serve's bounded
    // collects and checkpoint materialization overlap the embed + ANN
    // probe collects instead of serializing behind them
    val (lex, sem) = joinLegs(
      {
        // lexical ranks: ONE batched BM25 plan, per-query row_number
        // under the per-call tie rule (batch rows are bitwise the
        // per-call serve's per query, so ranks coincide with
        // rrfServed's positional ranks)
        val wLex = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)
        Bm25IndexStore
          .serveBm25TopKBatch(q.select(qid, col(termsCol).as("terms")),
            bm25Dir, k = poolK, roundTo = roundTo, pruneDf = bm25PruneDf)
          .select(col("query_id"), col("doc_id"),
            row_number().over(wLex).cast("long").as("r_lex"))
      },
      {
        // synthetic negative ANN ids: distinct query ids, sorted, → −(i+1)
        val qids = q.select(qid).distinct().orderBy(col("query_id"))
          .collect().map(_.get(0))
        val idType = q.schema(queryIdCol).dataType
        val mapSchema = StructType(Seq(
          StructField("query_id", idType, nullable = true),
          StructField("__qvid", LongType, nullable = false)))
        val qidMap = spark.createDataFrame(
          qids.zipWithIndex.map { case (id, i) => Row(id, -(i + 1L)) }.toSeq.asJava,
          mapSchema)

        // semantic ranks: embed the query column once (distributed), ONE
        // batched ANN serve over the negative-id query table
        val qVecs = graft.embed.Embedders
          .embed(q.select(qid, col(textCol).as("__t")), "__t", "embedding", modelId)
          .join(broadcast(qidMap), Seq("query_id"))
          .select(col("__qvid"), col("embedding"))
        IndexStore
          .serveIvfPqTopK(qVecs, annDir, idCol = "__qvid", k = poolK, nProbe = nProbe)
          .select(col("query_id").as("__qvid"), col("neighbor_id").as("doc_id"),
            col("rank").as("r_sem"))
          .join(broadcast(qidMap), Seq("__qvid"))
          .select(col("query_id"), col("doc_id"), col("r_sem"))
      })

    // rrf's exact arithmetic: long rank + int rrfK promoted to long,
    // 1.0 / long → double, lex part + sem part in that order, absent
    // side a literal 0.0, Spark round at roundTo — the per-call fuse
    // bit for bit
    def part(r: Column): Column =
      coalesce(lit(1.0) / (lit(rrfK) + r), lit(0.0))
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("r_lex"), col("r_sem"),
        round(part(col("r_lex")) + part(col("r_sem")), roundTo).as("rrf"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }
}
