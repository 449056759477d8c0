package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bucketed-table co-located joins — the pre-shuffle technique the scale
  * notes prescribe for repeated large-fact joins: both sides written
  * `bucketBy(N, key)` hash-partition identically on disk, so the join
  * plans with ZERO exchanges (and with sorted buckets, zero sorts).
  * At 100 TB this turns every recurring join on the bucket key from a
  * full two-sided shuffle into a local merge per bucket. */
class BucketingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("join of two tables bucketed on the same key plans without exchanges") {
    val wh = graft.util.Scratch.dir("warehouse").toString
    val db = s"graft_bucketing_${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db LOCATION '$wh/$db'")
    // the fixture tables are broadcast-small, which would bypass the
    // bucketed path entirely — force the sort-merge plan a large-fact
    // join would get
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"), col("lang"), col("source"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable(s"$db.docs_meta")
      docs.select(col("doc_id"), graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable(s"$db.docs_fp")

      val joined = spark.table(s"$db.docs_meta")
        .join(spark.table(s"$db.docs_fp"), Seq("doc_id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() == docs.count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP DATABASE $db CASCADE")
    }
  }

  test("aggregation on the bucket key also skips the shuffle") {
    val wh = graft.util.Scratch.dir("warehouse2").toString
    val db = s"graft_bucketing_agg_${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db LOCATION '$wh/$db'")
    try {
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"))
        .write.bucketBy(8, "doc_id").saveAsTable(s"$db.d")
      val agg = spark.table(s"$db.d").groupBy("doc_id").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"bucketed agg must not shuffle:\n$plan")
      assert(agg.count() == spark.read.parquet(s"$dir/documents.parquet").count())
    } finally {
      spark.sql(s"DROP DATABASE $db CASCADE")
    }
  }
}
