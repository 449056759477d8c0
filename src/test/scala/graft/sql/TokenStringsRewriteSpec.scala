package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The injected optimizer rule: plan shape (ArrayTransform → native
  * token_strings), value preservation, scope guards, and both
  * registration ladders (experimental.extraOptimizations and the
  * spark.sql.extensions GraftExtensions entry point). */
class TokenStringsRewriteSpec extends SparkSpec {

  import spark.implicits._

  // parquet-backed (not a LocalRelation): ConvertToLocalRelation would
  // otherwise fold the whole projection at optimize time, leaving no
  // plan to inspect
  private lazy val docsPath: String = {
    val p = graft.util.Scratch.dir("tsr").toString + "/docs"
    Seq((1L, "spark window merge"), (2L, "the the fast")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(p)
    p
  }
  private def docs = spark.read.parquet(docsPath)

  test("rewrites transform(tokenize, x -> x.token) to the native expression") {
    GraftFunctions.register(spark)
    GraftFunctions.installOptimizerRule(spark)
    docs.createOrReplaceTempView("tsr_docs")
    val df = spark.sql(
      "SELECT doc_id, transform(tokenize_plain(text), x -> x.token) AS toks FROM tsr_docs")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("token_strings"), plan)
    assert(!plan.contains("transform("), plan)
    // values: identical to the Column-API token stream
    val got = df.select($"doc_id", explode($"toks").as("token"))
      .orderBy("doc_id", "token").as[(Long, String)].collect().toSeq
    val want = docs
      .select($"doc_id", explode(graft.text.Tokenize.tokenize($"text")).as("t"))
      .select($"doc_id", $"t.token".as("token"))
      .orderBy("doc_id", "token").as[(Long, String)].collect().toSeq
    assert(got == want)
  }

  test("does not fire for non-token field extraction or other lambda bodies") {
    GraftFunctions.register(spark)
    GraftFunctions.installOptimizerRule(spark)
    docs.createOrReplaceTempView("tsr_docs")
    val starts = spark.sql(
      "SELECT transform(tokenize_plain(text), x -> x.start) AS ss FROM tsr_docs")
    assert(!starts.queryExecution.optimizedPlan.toString.contains("token_strings"))
    val upper = spark.sql(
      "SELECT transform(tokenize_plain(text), x -> upper(x.token)) AS us FROM tsr_docs")
    assert(!upper.queryExecution.optimizedPlan.toString.contains("token_strings"))
    // and the non-firing plans still evaluate correctly
    assert(starts.count() == 2 && upper.count() == 2)
  }

  test("installOptimizerRule is idempotent") {
    GraftFunctions.installOptimizerRule(spark)
    GraftFunctions.installOptimizerRule(spark)
    assert(spark.experimental.extraOptimizations.count(_ == TokenStringsRewrite) == 1)
    assert(spark.experimental.extraOptimizations.count(_ == TokenCountRewrite) == 1)
  }

  test("size(tokenize) rewrites to the count-only expression with identical counts") {
    GraftFunctions.register(spark)
    GraftFunctions.installOptimizerRule(spark)
    docs.createOrReplaceTempView("tsr_docs")
    val df = spark.sql("SELECT doc_id, size(tokenize_plain(text)) AS n FROM tsr_docs")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("token_count"), plan)
    assert(!plan.contains("tokenize_plain_words"), plan)
    val got = df.orderBy("doc_id").as[(Long, Int)].collect().toSeq
    val want = docs
      .select($"doc_id", size(graft.text.Tokenize.tokenize($"text")).as("n"))
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(got == want)
    // null contract: null text counts 0 through both paths
    assert(graft.text.TokenCountExpr.run(null, true, true) == 0)
  }

  test("GraftExtensions wires functions + rule at session build time") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // same SparkContext, fresh session state with the extensions applied
      val ext = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      try {
        ext.read.parquet(docsPath).filter("doc_id = 1")
          .createOrReplaceTempView("tsr_ext_docs")
        val df = ext.sql(
          "SELECT transform(tokenize_plain(text), x -> x.token) AS toks FROM tsr_ext_docs")
        assert(df.queryExecution.optimizedPlan.toString.contains("token_strings"))
        val toks = df.select(explode($"toks")).as[String](org.apache.spark.sql.Encoders.STRING)
          .collect().toSeq.sorted
        assert(toks == Seq("merge", "spark", "window"))
      } finally {
        // session shares the spec's SparkContext — do NOT stop it
      }
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
