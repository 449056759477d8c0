package graft

import org.apache.spark.sql.DataFrame

/** Regression guards for the plan shapes the 100 TB design depends on —
  * these pin the *physical* properties (scan counts, join-free shapes,
  * codegen'd expressions) that bench numbers alone would only catch as
  * slow drift. Runs against the read-only sf0.001 fixture tables. */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The static physical plan (pre-AQE). Structural shape — subtree
    * counts, join-freedom, codegen'd expressions — is what these guards
    * pin; runtime exchange reuse may dedupe further but is AQE's business,
    * not a property our code should have to lean on. */
  private def finalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def count(plan: String, needle: String): Int =
    needle.r.findAllIn(plan).length

  /** No Window with an empty partition spec anywhere in the optimized
    * logical plan: an unpartitioned window moves EVERY row through one
    * partition — the one plan shape that is guaranteed not to survive a
    * 100× scale-up, whatever the operator. */
  private def assertNoGlobalWindow(df: DataFrame, name: String = ""): Unit = {
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty,
      s"$name: unpartitioned Window (single-partition exchange at scale):\n${bad.mkString("\n")}")
  }

  test("no query anywhere carries an unpartitioned Window") {
    SparkEntry.queries.foreach { case (name, fn) =>
      assertNoGlobalWindow(fn(spark, dir), name)
    }
  }

  test("keyness: totals are driver literals over one checkpointed counts pass — no joins") {
    val df = SparkEntry.queries("q_keyness_en_rest")(spark, dir)
    assertNoGlobalWindow(df)
    val plan = finalPlan(df)
    // the scoring plan reads the localCheckpoint blocks, not the corpus —
    // and registers NOTHING in the CacheManager (a persist-and-return
    // would leak a vocabulary-scale cache per call for the session's life)
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("FileScan"), plan)
    assert(spark.sharedState.cacheManager.isEmpty,
      "library functions must not leave CacheManager entries behind")
    assert(!plan.contains("Join"), "keyness must not join — totals are inlined literals")
    // the checkpointed counts subtree itself is the single corpus scan
    import org.apache.spark.sql.functions.col
    val counts = graft.text.TokenFrequencies.conditionalTokenFrequencies(
      spark.read.parquet(s"$dir/documents.parquet"), "text", col("lang") === "en")
    assert(count(finalPlan(counts), "FileScan parquet") == 1)
    assert(count(finalPlan(counts), "tokenize_plain_words") == 1)
  }

  test("jaccard pairs tokenize the corpus exactly once (posting-list shape)") {
    val plan = finalPlan(SparkEntry.queries("q_jaccard_pairs")(spark, dir))
    assert(count(plan, "FileScan parquet") == 1, plan)
    assert(count(plan, "tokenize_plain_words") == 1, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      "pair generation must stay join-free")
  }

  test("tokenize runs as the native codegen expression, not a ScalaUDF") {
    val plan = finalPlan(SparkEntry.queries("q_tokenize_tokens")(spark, dir))
    assert(plan.contains("tokenize_plain_words"), plan)
    assert(!plan.contains("ScalaUDF"), "plain tokenize must not fall back to a UDF")
  }

  test("c-TF-IDF and rollup tokenize the corpus exactly once (one-pass shapes)") {
    // the scoring plan reads the checkpointed counts; the counts subtree
    // is the single tokenize pass
    val df = SparkEntry.queries("q_ctfidf_topk")(spark, dir)
    assertNoGlobalWindow(df)
    val ctfidf = finalPlan(df)
    assert(ctfidf.contains("Scan ExistingRDD"), ctfidf)
    assert(!ctfidf.contains("FileScan"), ctfidf)
    assert(spark.sharedState.cacheManager.isEmpty,
      "topTerms must not leave CacheManager entries behind")
    import org.apache.spark.sql.functions.col
    val counts = graft.topic.Ctfidf.countTopicTerms(
      spark.read.parquet(s"$dir/documents.parquet"), "text", col("lang"))
    assert(count(finalPlan(counts), "tokenize_plain_words") == 1)
    assert(count(finalPlan(counts), "FileScan parquet") == 1)
    val rollup = finalPlan(SparkEntry.queries("q_topic_rollup")(spark, dir))
    assert(count(rollup, "tokenize_plain_words") == 1, rollup)
    assert(count(rollup, "FileScan parquet") == 1, rollup)
  }

  test("simhash near-dups scan and fingerprint the corpus once, codegen'd") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = graft.dedup.Dedup.simHashNearDuplicates(docs, "text", "doc_id")
    val plan = finalPlan(pairs)
    assert(count(plan, "FileScan parquet") == 1, plan)
    // the fingerprint is the native simhash64 expression, not a UDF
    assert(plan.contains("simhash64"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("minhash LSH pairs scan and sign the corpus once, join-free, codegen'd signature") {
    val plan = finalPlan(SparkEntry.queries("q_minhash_pairs")(spark, dir))
    assert(count(plan, "FileScan parquet") == 1, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      "LSH pair generation must stay join-free")
    // map-side verify: the dedup aggregate carries the score, not arrays
    assert(!plan.contains("SortAggregate"),
      "pair dedup must be a hash aggregate (no array buffers)")
    // signature AND banding are native expressions — the whole LSH pairs
    // scan carries no ScalaUDF converter stack anywhere
    assert(plan.contains("minhash_signature"), plan)
    assert(plan.contains("lsh_band_hashes"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("bigram PMI: partitioned margin windows over one checkpointed counts pass; total is a literal") {
    val df = SparkEntry.queries("q_bigram_pmi")(spark, dir)
    // the r5 scale-killer: an unpartitioned n_total window single-partitions
    // the bigram-counts table, which (unlike a unigram vocabulary) is
    // unbounded at corpus scale
    assertNoGlobalWindow(df)
    val plan = finalPlan(df)
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("FileScan"), plan)
    assert(spark.sharedState.cacheManager.isEmpty,
      "bigramPmi must not leave CacheManager entries behind")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      "margins must ride partitioned windows over the one aggregation")
    // the checkpointed counts subtree is one scan + one tokenize pass
    val counts = graft.text.Collocations.bigramCounts(
      spark.read.parquet(s"$dir/documents.parquet"), "text")
    val cplan = finalPlan(counts)
    assert(count(cplan, "FileScan parquet") == 1)
    assert(count(cplan, "tokenize_plain_words") == 1)
    // elementwise adjacency: the ONLY exchange is the pair-keyed
    // aggregation — the token stream never shuffles through a doc window
    assert(count(cplan, "Exchange hashpartitioning") == 1, cplan)
    assert(!cplan.contains("Window"), cplan)
    // tokens and pairs are the fused native expressions, not interpreted
    // higher-order-function chains (ArrayTransform is CodegenFallback)
    assert(cplan.contains("token_strings"), cplan)
    assert(cplan.contains("adjacent_pairs"), cplan)
  }

  test("edit-distance pairs: bucket-keyed join, banded DP, never all-pairs") {
    val df = SparkEntry.queries("q_edit_pairs")(spark, dir)
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the threshold rides INTO the levenshtein call (banded early-exit
    // DP), it is not a post-hoc filter over unbounded distances
    assert(plan.contains("levenshtein"), plan)
    // the LENGTH BAND is part of the equi-join key, not a post-join
    // filter: every join in the logical plan keys on ≥2 columns
    // (bucket AND band), so one dominant bucket shuffles into per-length
    // strata instead of a quadratic self-join
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, plan)
    joins.foreach { j =>
      val eqKeys = j.condition.toSeq.flatMap(_.collect {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            l: org.apache.spark.sql.catalyst.expressions.AttributeReference,
            r: org.apache.spark.sql.catalyst.expressions.AttributeReference) => (l.name, r.name)
      })
      assert(eqKeys.size >= 2, s"edit-pairs join must key on (bucket, band), got $eqKeys:\n$plan")
    }
  }

  test("bm25 search is zero-shuffle: one scan into a bounded TakeOrdered") {
    val plan = finalPlan(SparkEntry.queries("q_bm25_search")(spark, dir))
    assert(count(plan, "FileScan parquet") == 1, plan)
    assert(!plan.contains("Exchange"), "BM25 must not shuffle — constants are literals, " +
      "tf is elementwise, top-k is TakeOrdered:\n" + plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // tf counting is the fused native expression pair, not interpreted
    // ArrayTransform/ArrayFilter chains (both CodegenFallback)
    assert(plan.contains("token_strings"), plan)
    assert(plan.contains("array_count_eq"), plan)
    assert(!plan.contains("transform("), plan)
    assert(!plan.contains("filter(token_strings"), plan)
  }

  test("gopher rules are one fused codegen'd scan — no HOF array passes") {
    val plan = finalPlan(SparkEntry.queries("q_gopher_rules")(spark, dir))
    assert(count(plan, "FileScan parquet") == 1, plan)
    assert(plan.contains("gopher_metrics"), plan)
    // the split/filter/aggregate/transform/array_intersect chain is gone
    for (hof <- Seq("aggregate(", "array_intersect(", "split("))
      assert(!plan.contains(hof), s"HOF '$hof' survived in the gopher plan:\n$plan")
  }

  test("repetition and scrub are scan-speed: no aggregation shuffle, no UDF") {
    for (q <- Seq("q_repetition", "q_scrub")) {
      val plan = finalPlan(SparkEntry.queries(q)(spark, dir))
      // the only exchange allowed is the oracle-determinism orderBy tail
      assert(!plan.contains("Exchange hashpartitioning"), s"$q:\n$plan")
      assert(!plan.contains("ScalaUDF"), s"$q:\n$plan")
      assert(count(plan, "FileScan parquet") == 1, s"$q:\n$plan")
    }
  }

  test("region revenue joins the dim chain by broadcast only") {
    val plan = finalPlan(SparkEntry.queries("q_region_revenue")(spark, dir))
    assert(!plan.contains("SortMergeJoin"),
      "dimension chain must broadcast; only the fact join may shuffle")
    assert(count(plan, "BroadcastHashJoin") >= 3, plan)
  }

  test("cleaning pipeline is one scan and one content-digest shuffle") {
    val plan = finalPlan(SparkEntry.queries("q_clean_pipeline")(spark, dir))
    assert(count(plan, "FileScan parquet") == 1, plan)
    // one hash exchange (the dedup window on the digest) + the
    // deterministic-output range exchange for the final sort
    assert(count(plan, "Exchange hashpartitioning") == 1, plan)
    assert(!plan.contains("Join"), "quality gate and lang-id must stay map-side")
  }

  test("perplexity scores via broadcast vocab over one probe scan; model reads checkpoint blocks") {
    val plan = finalPlan(SparkEntry.queries("q_perplexity")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), "vocab-sized model frame must broadcast")
    // probe side: ONE corpus scan + tokenize; vocab side: checkpoint blocks
    assert(count(plan, "FileScan parquet") == 1, plan)
    assert(count(plan, "tokenize_plain_words") == 1, plan)
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(spark.sharedState.cacheManager.isEmpty,
      "library functions must not leave CacheManager entries behind")
  }

  test("sequence packing is one scan, one count-only tokenize, shard-partitioned windows") {
    val df = SparkEntry.queries("q_seq_pack")(spark, dir)
    assertNoGlobalWindow(df, "q_seq_pack")
    val plan = finalPlan(df)
    assert(count(plan, "FileScan parquet") == 1, plan)
    // packing only needs counts: the count-only native expression, never
    // the materializing tokenizer
    assert(count(plan, "token_count") == 1, plan)
    assert(count(plan, "tokenize_plain_words") == 0, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("near-dup survivors: text rides only the left-anti probe side") {
    val plan = finalPlan(SparkEntry.queries("q_neardup_survivors")(spark, dir))
    // the survivor filter is a single anti join of (corpus) x (loser ids);
    // the loser side reads the clusters' checkpoint blocks, never the text
    assert(plan.contains("LeftAnti"), plan)
    assert(count(plan, "FileScan parquet") == 1, plan)
  }

  test("snapshot diff: only (id, hash) projections reach the full-outer join") {
    // the change-detection pass must shuffle hashes, never document text
    // — column pruning has to land the sha2 below both exchanges
    val df = SparkEntry.queries("q_snapshot_diff")(spark, dir)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 1, joins.mkString("\n"))
    val j = joins.head
    assert(j.joinType.sql == "FULL OUTER", j.joinType.toString)
    assert(j.left.output.map(_.name).toSet == Set("doc_id", "old_hash"))
    assert(j.right.output.map(_.name).toSet == Set("doc_id", "new_hash"))
  }

  test("span dedup is two exchanges: span-key window + doc-key rebuild, join-free") {
    val df = SparkEntry.queries("q_span_dedup")(spark, dir)
    val plan = finalPlan(df)
    assert(count(plan, "FileScan parquet") == 1, plan)
    assert(!plan.contains("Join"), "spans are built elementwise, never by join")
    assert(count(plan, "Exchange hashpartitioning") == 2, plan)
  }

  test("winnow pairs: one scan, join-free posting lists, codegen'd fingerprints") {
    val df = SparkEntry.queries("q_winnow_pairs")(spark, dir)
    assertNoGlobalWindow(df, "q_winnow_pairs")
    val plan = finalPlan(df)
    assert(count(plan, "FileScan parquet") == 1, plan)
    assert(!plan.contains("Join"), "pairs expand inside posting lists, never by join")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("stride-1 shingle dedup: two exchanges, join-free, hashed keys through the window") {
    val df = SparkEntry.queries("q_span_dedup_s1")(spark, dir)
    assertNoGlobalWindow(df, "q_span_dedup_s1")
    val plan = finalPlan(df)
    // shingle keys + sentinel token arrays are two parallel scans; the
    // reassembly is the union riding the doc-keyed aggregation — never a
    // third exchange or a join back to the corpus
    assert(count(plan, "FileScan parquet") == 2, plan)
    assert(!plan.contains("Join"), "reassembly must ride the union, not a join")
    assert(count(plan, "Exchange hashpartitioning") == 2, plan)
  }

  test("curation pipeline: scores once — the band filter reads checkpoint blocks") {
    val df = SparkEntry.queries("q_curation_pipeline")(spark, dir)
    assertNoGlobalWindow(df, "q_curation_pipeline")
    val plan = finalPlan(df)
    // TWO actions consume the scored frame (the p90 percentile and the
    // returned band filter); the checkpoint makes the second a block read
    // — the returned plan must contain NO corpus scan, no tokenize, no
    // re-run of the vocab broadcast join
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("FileScan"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("tokenize_plain_words"), plan)
    assert(spark.sharedState.cacheManager.isEmpty,
      "library functions must not leave CacheManager entries behind")
  }

  test("NB classifier and DSIR scoring: one probe scan, broadcast-only model joins") {
    // q_quality_clf probes via the tokenize expression, q_importance via
    // the fused shingle-key expression — exactly one lexing pass either way
    for ((q, bhj, lexer) <- Seq(
        ("q_quality_clf", 1, "tokenize_plain_words"),
        ("q_importance", 2, "shingle_keys"))) {
      val df = SparkEntry.queries(q)(spark, dir)
      assertNoGlobalWindow(df, q)
      val plan = finalPlan(df)
      // the fits ran at construction into checkpoint blocks; the returned
      // plan is ONE corpus scan + one lexing pass probing dim-bounded
      // broadcast counts — no sort-merge join, no second corpus pass
      assert(count(plan, "FileScan parquet") == 1, s"$q:\n$plan")
      assert(count(plan, lexer) == 1, s"$q:\n$plan")
      assert(count(plan, "BroadcastHashJoin") == bhj, s"$q:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q:\n$plan")
      assert(spark.sharedState.cacheManager.isEmpty,
        "library functions must not leave CacheManager entries behind")
    }
  }

  test("feature-hash encode and mixture gate are scan-speed: no shuffle, no UDF, codegen'd hash") {
    for (q <- Seq("q_encode_ids", "q_domain_mix", "q_domain_mix_temp", "q_winnow")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val plan = finalPlan(df)
      assert(!plan.contains("ScalaUDF"), s"$q:\n$plan")
      assert(count(plan, "FileScan parquet") == 1, s"$q:\n$plan")
      // the only exchange is the deterministic-output sort tail
      assert(count(plan, "Exchange hashpartitioning") == 0, s"$q:\n$plan")
      assert(!plan.contains("Join"), s"$q:\n$plan")
    }
  }

  test("embedding near-dup: one scan, join-free posting lists, codegen'd buckets") {
    val plan = finalPlan(SparkEntry.queries("q_embed_neardup")(spark, dir))
    assert(count(plan, "FileScan parquet") == 1, plan)
    assert(!plan.contains("Join"), "pairs expand inside posting lists, never by join")
    assert(plan.contains("lsh_buckets"), plan)
    assert(!plan.contains("ScalaUDF"), "bucketing must be the native expression")
  }

  test("winnow survivors: text rides only the left-anti probe side") {
    // same posture as q_neardup_survivors: losers come from checkpointed
    // cluster labels, the corpus text appears once, on the anti-join probe
    val plan = finalPlan(SparkEntry.queries("q_winnow_survivors")(spark, dir))
    assert(plan.contains("LeftAnti"), plan)
    assert(count(plan, "FileScan parquet") == 1, plan)
  }

  test("IVF x int8: broadcast-only probe join, quantize rides the cell-assignment scan") {
    val df = SparkEntry.queries("q_knn_ivf_int8")(spark, dir)
    assertNoGlobalWindow(df, "q_knn_ivf_int8")
    val plan = finalPlan(df)
    // corpus lists: ONE scan that both assigns cells and quantizes (the
    // keep-columns path — no join back); probes broadcast; the only hash
    // exchange is the per-query ranking window after the local prune
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(count(plan, "FileScan parquet") == 2, plan) // corpus + bounded query side
    assert(count(plan, "Exchange hashpartitioning") == 1, plan)
  }

  test("no exact Percentile aggregate over a non-integral column anywhere") {
    // Spark's exact Percentile merges a value→count map into ONE final
    // buffer. Integral columns bound that map by the value range (word
    // counts, lengths); a continuous double approaches one entry per row
    // — corpus-cardinality state in a single task at 100 TB. Continuous
    // quantiles must go through ExactQuantile's distributed sort
    // selection instead (the r8 curation-pipeline finding).
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(ByteType, ShortType, IntegerType, LongType)
    SparkEntry.queries.foreach { case (name, fn) =>
      fn(spark, dir).queryExecution.optimizedPlan.foreach { node =>
        node.expressions.foreach(_.foreach {
          case p: Percentile =>
            assert(integral.contains(p.child.dataType),
              s"$name: exact Percentile over non-integral ${p.child.dataType} " +
                "(unbounded value→count buffer) — use ExactQuantile.quantileDisc")
          case _ => ()
        })
      }
    }
  }

  test("filters push down to the parquet scan under derived text columns") {
    import org.apache.spark.sql.functions._
    val q = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), graft.text.TextFunctions.cleanText(col("text")).as("cleaned"))
    val plan = finalPlan(q)
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]"), plan)
  }

  test("semdedup pair generation is cell-keyed, never all-pairs") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = graft.similarity.Similarity
      .semDedup(emb, "vec_id", "embedding", threshold = 0.4, nCells = 8, seed = 42L)
    val plan = finalPlan(q)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // cell routing AND pair scoring are codegen'd expressions — the
    // higher-order-function cosine was a 17x interpreted bottleneck here
    assert(plan.contains("nearest_cells"), plan)
    assert(plan.contains("cosine_sim"), plan)
  }

  test("topic over-cap barrier is a TakeOrdered: the driver never holds more than the cap") {
    import org.apache.spark.sql.functions._
    // the same frame TopicModeling's sampled path collects — its physical
    // plan must be a TakeOrdered(AndProject) (distributed top-k, bounded
    // driver result), never a global Sort + CollectLimit over the corpus
    val embedded = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), lit(0).as("chunk_idx"), col("embedding").as("emb"))
    val sample = graft.topic.TopicModeling.sampleFrame(embedded, 100)
    val plan = finalPlan(sample)
    assert(plan.contains("TakeOrdered"), s"sample barrier lost its TakeOrdered shape:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"sample barrier grew a global sort exchange:\n$plan")
  }

  test("heavy hitters: one scan, one tokenize, join-free — O(k) summary, no token-type shuffle") {
    val df = SparkEntry.queries("q_heavy_hitters")(spark, dir)
    val plan = finalPlan(df)
    assert(!plan.contains("Join"), plan)
    assert(count(plan, "FileScan parquet") == 1, plan)
    assert(count(plan, "tokenize_plain_words") == 1, plan)
    // the only wide payload is the bounded MG summary, never a per-token
    // aggregation keyed on the token itself
    assert(!plan.toLowerCase.contains("hashaggregate(keys=[tok"), plan)
  }

  test("served PQ top-k never trains or re-encodes on the query surface") {
    val df = SparkEntry.queries("q_knn_served")(spark, dir)
    val plan = finalPlan(df)
    assert(!plan.toLowerCase.contains("pqencode"),
      "serving must read stored codes, not re-encode")
    // codes parquet + embeddings (LUT side and exact re-rank side)
    assert(count(plan, "FileScan parquet") >= 2, plan)
    // both joins broadcast: the LUT batch and the shortlist
    assert(count(plan, "SortMergeJoin") == 0, plan)
  }

  test("banded exact jaccard: LSH candidates, codegen intersect, never all-pairs") {
    val df = SparkEntry.queries("q_jaccard_banded")(spark, dir)
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the exact verify is the two-pointer codegen'd intersect, not a HOF
    assert(plan.contains("sorted_intersect_count"), plan)
    assert(count(plan, "minhash_signature") >= 1, plan)
  }

  test("served IVFADC prunes unprobed cell partitions dynamically") {
    val df = SparkEntry.queries("q_knn_ivf_served")(spark, dir)
    val plan = finalPlan(df)
    assert(!plan.toLowerCase.contains("pq_encode_resid"),
      "serving must read stored codes, not re-encode")
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"cell-partitioned codes scan must carry the pruning subquery:\n$plan")
    assert(count(plan, "SortMergeJoin") == 0, plan)
  }

  test("delete-aware serving keeps the pruning subquery; tombstones scan once, no shuffle join") {
    // the tombstone anti-join applies to post-cell-join candidates, not
    // the lists scan — a scan-level filter would sit between the
    // partitioned read and the probe join and defeat the dynamic
    // partition pruning that makes serving read nProbe/nCells
    val df = SparkEntry.queries("q_knn_ivf_served_delete")(spark, dir)
    val plan = finalPlan(df)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"tombstone filtering must not defeat the probed-cell pruning:\n$plan")
    assert(count(plan, "SortMergeJoin") == 0, plan)
    assert(ScanPaths.count(df.queryExecution.executedPlan, "tombstones") == 1,
      s"tombstones/ must scan once:\n$plan")
  }

  test("batched BM25 serving: corpus never shuffles, query side broadcast, per-query window") {
    // round 22: the pruned postings scan rides a lazy localCheckpoint
    // (one scan per batch), so the final plan shows block reads — the
    // static bucket pruning is asserted on the captured scan plan
    graft.similarity.Bm25IndexStore.ServeProbe.capturePlans.set(true)
    val (df, pruned) =
      try {
        val d = SparkEntry.queries("q_bm25_served_batch")(spark, dir)
        (d, graft.similarity.Bm25IndexStore.ServeProbe.lastPrunedPostingsPlan.toString)
      } finally graft.similarity.Bm25IndexStore.ServeProbe.capturePlans.set(false)
    val plan = finalPlan(df)
    assert(pruned.contains("PartitionFilters: [") && pruned.contains("tok_bucket"), pruned)
    // every query-side join broadcasts — the corpus side never rides a
    // shuffle keyed by token or query
    assert(count(plan, "SortMergeJoin") == 0, plan)
    // the per-query top-k window is partitioned (bounded per query) —
    // never a global sort-window over the scored rows
    assertNoGlobalWindow(df, "q_bm25_served_batch")
  }

  test("daily pipeline stats plan stays broadcast-only over the store artifacts") {
    val df = SparkEntry.queries("q_daily_pipeline")(spark, dir)
    val plan = finalPlan(df)
    // stats over three persisted stores: artifact scans + bounded
    // aggregates; nothing corpus-sized meets a shuffle join
    assert(count(plan, "SortMergeJoin") == 0, plan)
    assertNoGlobalWindow(df, "q_daily_pipeline")
  }

  test("stream-ingested index serves with the same no-reencode plan") {
    // the serving plan over a stream-built index (base files + delta
    // subdirectories) must look exactly like the one-shot index's —
    // the recursive codes read is a detail of the scan, not the plan
    val df = SparkEntry.queries("q_stream_index_append")(spark, dir)
    val plan = finalPlan(df)
    assert(!plan.toLowerCase.contains("pqencode"), plan)
    assert(count(plan, "SortMergeJoin") == 0, plan)
  }

  test("transformer embedding is one scan through the batch engine — no shuffle before pooling") {
    val df = SparkEntry.queries("q_embed_transformer")(spark, dir)
    val plan = finalPlan(df)
    assert(count(plan, "FileScan parquet") == 1, plan)
    // elementwise mapPartitions + the output sort only: no joins, no aggs
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("video meta runs batched and join-free over the fixture frame") {
    val df = SparkEntry.queries("q_media_video_meta")(spark, dir)
    val plan = finalPlan(df)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("OPQ x IVFADC: rotation rides the scans, probe join broadcast, never all-pairs") {
    val df = SparkEntry.queries("q_knn_opq_ivf")(spark, dir)
    val plan = finalPlan(df)
    // the rotation is the codegen'd mat-vec on the scan, not a UDF pass
    assert(plan.contains("mat_vec"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    // candidates come from the one cell-keyed broadcast probe join
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(count(plan, "SortMergeJoin") == 0, plan)
  }

  test("sql token-strings rewrite holds on the query surface") {
    val df = SparkEntry.queries("q_sql_token_strings")(spark, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("token_strings"), plan)
    assert(!plan.contains("transform("), plan)
  }

  test("bucketed join runs with zero hashpartitioning exchanges") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, dir)
    val plan = finalPlan(df)
    assert(plan.contains("Bucketed: true"), plan)
    // join AND the key-aligned aggregation ride the bucket layout; the
    // only exchange left is the rangepartitioning for the output order
    assert(count(plan, "Exchange hashpartitioning") == 0, plan)
    // the merge hint keeps the shape honest at any SF: the 100 TB case
    // where neither fact side broadcasts
    assert(count(plan, "SortMergeJoin") == 1, plan)
    assert(count(plan, "BroadcastHashJoin") == 0, plan)
  }

  test("partitioned scan prunes to the one lang directory") {
    val df = SparkEntry.queries("q_partitioned_scan")(spark, dir)
    val plan = finalPlan(df)
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("lang"), plan)
    // the executed scan reads exactly one of the five lang partitions
    // (sparkPlan: the pre-AQE physical plan — AdaptiveSparkPlanExec
    // hides its subtree from collect)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.relation.location.listFiles(
      scans.head.partitionFilters, Nil).length == 1),
      "partition pruning must select exactly the lang='en' directory")
  }

  test("BM25 batched serve: routing guards keep the checkpoint job and the " +
      "(query,term) collect off the common path; engaged path checkpoints once; " +
      "failed proofs union the reuse tail, never recurse") {
    import spark.implicits._
    import graft.similarity.Bm25IndexStore
    // the prune spec's synthetic hot-term corpus: 'the' df=60 (hot at
    // pruneDf=30), six topic words df=10 (essential)
    val syn = (0L until 60L).map(i => (i, s"the w${i % 6} filler$i the tail"))
      .toDF("doc_id", "text")
    val idx = graft.util.Scratch.dir("bm25-shape").toString
    Bm25IndexStore.writeBm25Index(syn, idx, "text", "doc_id", nBuckets = 16)

    // counter deltas across one full serve (plan built AND executed):
    // ((query,term) collects, fallback unions)
    def deltas(batch: DataFrame): (Long, Long) = {
      val before = Bm25IndexStore.ServeProbe.snapshot()
      Bm25IndexStore.serveBm25TopKBatch(batch, idx, k = 3, roundTo = 6, pruneDf = 30L)
        .collect()
      val after = Bm25IndexStore.ServeProbe.snapshot()
      (after._1 - before._1, after._2 - before._2)
    }

    // (a) no hot term anywhere in the batch: the default path — NO
    // (query,term) collect (the b02f993 contract)
    val noHot = Seq((1L, Seq("w1", "w2")), (2L, Seq("w3"))).toDF("query_id", "terms")
    assert(deltas(noHot) == ((0L, 0L)),
      "a no-hot-term batch must not touch the routing machinery")

    // (b) every index-present term hot: the vocabulary-level skip fires
    // before any routing — same zero-cost shape
    val allHot = Seq((1L, Seq("the")), (2L, Seq("the"))).toDF("query_id", "terms")
    assert(deltas(allHot) == ((0L, 0L)),
      "an all-hot batch must short-circuit to the unpruned plan")

    // (c) hot + essential, proofs pass: the (query,term) collect is the
    // routing's only extra action
    val engaged = Seq((1L, Seq("the", "w1")), (5L, Seq("the", "w4", "w5")))
      .toDF("query_id", "terms")
    assert(deltas(engaged) == ((1L, 0L)),
      "engaged batch: one collect, no fallback")

    // (d) mixed batch with per-query fallbacks (all-hot query, doomed
    // essential): the fallback is ONE union of the precomputed unpruned
    // tail (no recursion, round 20: the r19 recursion paid a complete
    // second serve)
    val mixed = Seq(
      (1L, Seq("the", "w1")),
      (2L, Seq("the")),
      (4L, Seq("the", "zzz_nope"))).toDF("query_id", "terms")
    assert(deltas(mixed) == ((1L, 1L)),
      "failed-proof fallback must reuse the batch's collected stats, not recurse")

    // (e) a NONDETERMINISTIC caller plan (rand() in the frame): the
    // batch is read once, so the engaged path routes exactly like (c).
    // The rand() guard here is always-true, so the result must STILL be
    // bitwise the unpruned serve of the same rows.
    import org.apache.spark.sql.functions.{array, lit, rand, when}
    def ndBatch = engaged.select($"query_id",
      when(rand(7) >= -1.0, $"terms").otherwise(array(lit("w2"))).as("terms"))
    assert(deltas(ndBatch) == ((1L, 0L)),
      "a nondeterministic engaged batch routes like a deterministic one")
    val ndRows = Bm25IndexStore
      .serveBm25TopKBatch(ndBatch, idx, k = 3, roundTo = 6, pruneDf = 30L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val offRows = Bm25IndexStore
      .serveBm25TopKBatch(engaged, idx, k = 3, roundTo = 6, pruneDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    assert(ndRows == offRows,
      "the engaged path over a nondeterministic frame must stay bitwise the unpruned serve")
  }
}
