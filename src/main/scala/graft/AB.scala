package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic (optimization rounds): drift-immune A/B of a code toggle.
  * Runs the named queries with a system property flipped 0/1 in PAIRS of
  * back-to-back passes inside ONE JVM, so the box's ~1.6-4x same-day
  * speed band hits both arms equally; successive pairs swap which arm
  * runs first, so JIT warm-up inside the JVM does not favour one arm.
  * Reports per-arm medians and paired deltas. The toggle is
  * REQUIRED — a default property would be one no code reads, and the
  * run would compare two identical arms. Usage:
  *   AB_PROP=graft.stream.stateParts AB_VAL0=4 AB_VAL1=8 \
  *     AB_QUERIES=q_stream_stream_join AB_PASSES=8 sbt "runMain graft.AB"
  */
object AB {
  val Usage: String =
    "usage: AB_PROP=<system property> | AB_CONF=<session conf> " +
      "[AB_VAL0=0] [AB_VAL1=1] [AB_QUERIES=q_a,q_b] [AB_PASSES=6] sbt \"runMain graft.AB\""

  def main(args: Array[String]): Unit = {
    // AB_CONF set => arms flip a SESSION CONF instead of a system
    // property (diagnostic sizing only — e.g. how much of a family's
    // cost is AQE barriers; never a shipping change by itself)
    val confKey = sys.env.get("AB_CONF").filter(_.nonEmpty)
    val prop = confKey.orElse(sys.env.get("AB_PROP").filter(_.nonEmpty)).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val armVals = Array(
      sys.env.getOrElse("AB_VAL0", "0"), sys.env.getOrElse("AB_VAL1", "1"))
    val names = sys.env.getOrElse("AB_QUERIES", "q_dedup_index_probe")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val passes = sys.env.getOrElse("AB_PASSES", "6").toInt // per arm
    val dir = sys.env.getOrElse("PP_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("PP_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // warm both arms (codegen differs per arm)
      for (arm <- armVals) {
        confKey match {
          case Some(k) => spark.conf.set(k, arm)
          case None => System.setProperty(prop, arm)
        }
        fn(spark, dir).count()
        spark.catalog.clearCache()
      }
      val times = Array.fill(2)(new Array[Double](passes))
      // pair i runs arm i % 2 first
      for (pair <- 0 until passes; arm <- Seq(pair % 2, 1 - pair % 2)) {
        confKey match {
          case Some(k) => spark.conf.set(k, armVals(arm))
          case None => System.setProperty(prop, armVals(arm))
        }
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        times(arm)(pair) = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
      }
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
      // Paired summary (round 22, VERDICT r21 #8): the two passes of a
      // pair ran back-to-back in the same drift band — their DIFFERENCE
      // cancels the band. Mean paired delta ± ~95% CI (2·sd/√n) is the
      // ship/revert statistic for <100 ms effects the per-arm medians
      // can't resolve. The delta per order shows what warm-up leaves:
      // when the two orders disagree, the pooled delta is the one to read.
      def paired(pairs: Seq[Int]): String = {
        val d = pairs.map(i => times(1)(i) - times(0)(i))
        if (d.isEmpty) "n/a (n=0)"
        else {
          val mean = d.sum / d.length
          val sd = math.sqrt(d.map(x => (x - mean) * (x - mean)).sum / math.max(1, d.length - 1))
          val ci = 2.0 * sd / math.sqrt(d.length.toDouble)
          f"$mean%+.3f +/- $ci%.3f s (n=${d.length})"
        }
      }
      val pairs = 0 until passes
      println(f"AB $name  $prop=${armVals(0)}: ${med(times(0).toSeq)}%.3f s  " +
        f"$prop=${armVals(1)}: ${med(times(1).toSeq)}%.3f s  " +
        s"paired(arm1-arm0): ${paired(pairs)}  " +
        s"[arm0 first: ${paired(pairs.filter(_ % 2 == 0))}; " +
        s"arm1 first: ${paired(pairs.filter(_ % 2 == 1))}]  " +
        f"(all0=${times(0).map(t => f"$t%.2f").mkString(",")} " +
        f"all1=${times(1).map(t => f"$t%.2f").mkString(",")})")
    }
    spark.stop()
  }
}
