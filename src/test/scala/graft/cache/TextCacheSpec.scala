package graft.cache

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.Tokenize
import graft.util.Scratch

class TextCacheSpec extends SparkSpec {

  import spark.implicits._

  private def tokenizeCompute(df: DataFrame): DataFrame =
    df.select(col("content_hash"), Tokenize.tokenize(col("text")).as("tokens"))

  /** The reference's correctness contract: cached == uncached
    * (`tests/test_tokenize_cache.py:22-34`). */
  test("cached == uncached, and repeats hit the cache without recompute") {
    val dir = Scratch.dir("cache").toString + "/cache"
    val cache = new TextCache(spark, dir)
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "delta epsilon"),
      (3L, "alpha beta gamma") // duplicate text → one cache entry
    ).toDF("doc_id", "text")

    val direct = df.select(col("doc_id"), Tokenize.tokenize(col("text")).as("tokens"))
      .as[(Long, Seq[(String, Long, Long)])].collect().toMap

    val viaCache = cache.withCachedColumn(df, "text", "tok|plain|lc|rp", "tokens")(tokenizeCompute)
      .select(col("doc_id"), col("tokens"))
      .as[(Long, Seq[(String, Long, Long)])].collect().toMap
    assert(viaCache == direct)

    // unique-miss dedup: 2 distinct texts → 2 cache rows
    assert(spark.read.parquet(dir + "/tok_plain_lc_rp").count() == 2)

    // second call: compute must never run (poisoned UDF would throw)
    val poison = udf { (_: String) => throw new IllegalStateException("cache miss recompute!") }
    val second = cache.withCachedColumn(df, "text", "tok|plain|lc|rp", "tokens") { misses =>
      misses.select(col("content_hash"), poison(col("text")).as("tokens"))
    }
    assert(second.select(col("doc_id"), col("tokens"))
      .as[(Long, Seq[(String, Long, Long)])].collect().toMap == direct)
  }

  test("typed caches: cachedTokenize and cachedEmbed equal their uncached forms") {
    val dir = Scratch.dir("cache3").toString + "/cache"
    val df = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("doc_id", "text")

    val direct = df.select(col("doc_id"), Tokenize.tokenize(col("text")).as("tokens"))
      .as[(Long, Seq[(String, Long, Long)])].collect().toMap
    val cachedToks = TypedCaches.cachedTokenize(spark, dir, df, "text")
      .select(col("doc_id"), col("tokens"))
      .as[(Long, Seq[(String, Long, Long)])].collect().toMap
    assert(cachedToks == direct)

    val directEmb = graft.embed.Embedders.embed(df, "text", "embedding")
      .select(col("doc_id"), col("embedding")).as[(Long, Seq[Float])].collect().toMap
    val cachedEmb = TypedCaches.cachedEmbed(spark, dir, df, "text")
      .select(col("doc_id"), col("embedding")).as[(Long, Seq[Float])].collect().toMap
    assert(cachedEmb == directEmb)

    // distinct params → distinct cache key (different params_hash)
    assert(TypedCaches.tokenizeParamsHash(true, true) != TypedCaches.tokenizeParamsHash(true, false))
  }

  test("miss computation evaluates exactly once per distinct text (r3 double-compute fix)") {
    val dir = Scratch.dir("cache4").toString + "/cache"
    val cache = new TextCache(spark, dir)
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("doc_id", "text")
    val evals = spark.sparkContext.longAccumulator("compute-evals")
    val counting = udf { (t: String) => evals.add(1); t.toUpperCase }
    cache.withCachedColumn(df, "text", "onceKey", "v") { misses =>
      misses.select(col("content_hash"), counting(col("text")).as("v"))
    }.collect()
    // 2 distinct texts, each computed once — an isEmpty pre-action or a
    // re-executed write would double this
    assert(evals.value == 2L, s"compute ran ${evals.value} times for 2 distinct misses")
  }

  test("cache keys are isolated: different key recomputes") {
    val dir = Scratch.dir("cache2").toString + "/cache"
    val cache = new TextCache(spark, dir)
    val df = Seq((1L, "some text here")).toDF("doc_id", "text")
    cache.withCachedColumn(df, "text", "keyA", "tokens")(tokenizeCompute).collect()
    val uppered = cache.withCachedColumn(df, "text", "keyB", "v") { misses =>
      misses.select(col("content_hash"), upper(col("text")).as("v"))
    }
    assert(uppered.select("v").as[String].head() == "SOME TEXT HERE")
    // both keys now cached in separate subdirectories
    assert(spark.read.parquet(dir + "/keyA").count() == 1)
    assert(spark.read.parquet(dir + "/keyB").count() == 1)
  }
}
