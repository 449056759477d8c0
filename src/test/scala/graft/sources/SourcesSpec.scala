package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Source/sink round-trips over the driver's real tables: the engine's
  * outputs must survive the standard interchange formats (parquet is the
  * native path exercised everywhere; JSON and CSV are the lossy-schema
  * paths that need explicit schemas back). */
class SourcesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    graft.util.Scratch.dir(name).toString + "/out"

  test("documents round-trip through JSON with explicit schema") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val path = tmp("json")
    docs.write.json(path)
    val back = spark.read.schema(docs.schema).json(path)
    assert(back.count() == docs.count())
    assert(back.schema == docs.schema)
    val a = docs.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("derived text-analysis columns round-trip through CSV") {
    val derived = spark.read.parquet(s"$dir/documents.parquet")
      .select(
        col("doc_id"),
        graft.text.TextAnalysis.langId(col("text")).as("pred_lang"),
        graft.text.TextFunctions.wordCount(col("text")).as("word_cnt"))
    val path = tmp("csv")
    derived.write.option("header", "true").csv(path)
    val back = spark.read.option("header", "true").schema(derived.schema).csv(path)
    assert(back.count() == derived.count())
    val a = derived.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("partitioned parquet sink prunes partitions on read") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val path = tmp("part")
    docs.write.partitionBy("lang").parquet(path)
    val en = spark.read.parquet(path).filter(col("lang") === "en")
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    assert(en.count() == docs.filter(col("lang") === "en").count())
  }
}
