package graft
import org.apache.spark.sql.SparkSession
/** Diagnostic: executed-plan shape of a named SparkEntry query. Prints the
  * static counts and, after running the query, the counts from the
  * adaptive FINAL plan section only (AdaptiveSparkPlan.toString renders
  * both final and initial sections — counting the whole string double-
  * counts every node). `--dump` also prints the last pass's full
  * post-execution plan. */
object PlanProbe {
  private def finalSection(plan: String): String = {
    val i = plan.indexOf("== Final Plan ==")
    val j = plan.indexOf("== Initial Plan ==")
    if (i >= 0 && j > i) plan.substring(i, j) else plan
  }
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_jaccard_pairs")
    val dump = args.contains("--dump")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("PP_DIR", "/root/testdata/sf0.01")
    val passes = sys.env.getOrElse("PP_PASSES", "1").toInt
    val df = SparkEntry.queries(name)(spark, dir)
    def report(tag: String, plan: String): Unit = {
      println(s"${tag}_REUSED=" + "ReusedExchange".r.findAllIn(plan).length)
      println(s"${tag}_SCANS=" + "FileScan parquet".r.findAllIn(plan).length)
      println(s"${tag}_TOKENIZE=" + "tokenize_plain_words".r.findAllIn(plan).length)
      println(s"${tag}_UDF=" + "ScalaUDF|UDF\\(".r.findAllIn(plan).length)
      println(s"${tag}_EXCHANGES=" + "Exchange ".r.findAllIn(plan).length)
      println(s"${tag}_BHJ=" + "BroadcastHashJoin".r.findAllIn(plan).length)
      println(s"${tag}_SMJ=" + "SortMergeJoin".r.findAllIn(plan).length)
    }
    report("STATIC", df.queryExecution.executedPlan.toString)
    (1 to passes).foreach { p =>
      val fresh = SparkEntry.queries(name)(spark, dir)
      val t0 = System.nanoTime()
      // execute the query's OWN plan so the adaptive plan actually
      // finalizes and the FINAL report below reflects the real query —
      // a derived count() would let Spark prune ordering/columns and
      // leave fresh's plan un-executed. NOTE: collect() additionally
      // pays result serialization to the driver, which Bench's count()
      // does not — PASS timings here are for relative comparison across
      // probe runs, not for cross-referencing against bench medians
      fresh.collect()
      println(f"PASS $p SEC=${(System.nanoTime() - t0) / 1e9}%.3f")
      if (p == passes) {
        val plan = fresh.queryExecution.executedPlan.toString
        report("FINAL", finalSection(plan))
        if (dump) println(plan)
      }
    }
    spark.stop()
  }
}
