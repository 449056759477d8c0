package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator for the SCALING.md slope study.
  *
  * Replicates `documents` / `embeddings` / `events` FACTOR× into a new
  * sf-layout directory (single parquet FILE per table — the streaming
  * queries' one-micro-batch staging contract) and byte-copies the other
  * tables. The replication is *vocabulary-shifted*, not identical-copy:
  *
  *   - documents: replica k > 0 appends a per-replica letter tag to
  *     every word (`spark` → `sparkxb`), so each replica's vocabulary —
  *     and therefore its shingles, MinHash signatures, winnow
  *     fingerprints and LSH buckets — is disjoint from every other
  *     replica's. Per-replica workload structure is IDENTICAL to the
  *     base corpus, so candidate-pair volume scales linearly by
  *     construction and a measured super-linear slope is attributable
  *     to the ENGINE (or to a deliberately coarse bucketing knob), not
  *     to replication artifacts (identical copies would explode every
  *     near-dup family quadratically by data design).
  *   - embeddings: replica k > 0 applies a seeded per-replica SIGN-FLIP
  *     pattern — an orthogonal transform, so norms, within-replica
  *     distances and intrinsic cluster structure are preserved exactly
  *     while cross-replica cosines decorrelate (identical copies would
  *     make every vector a perfect semantic duplicate 10 times over).
  *   - events: ids and user_ids shift by a replica stride (state keys
  *     stay replica-local → per-key streaming state stays constant);
  *     timestamps are unchanged, so event-time window DENSITY grows
  *     FACTOR× — exactly what a busier firehose looks like.
  *
  * Ids shift by `k * stride` with stride > any base id, so replica ids
  * never collide and replica 0 IS the base corpus unchanged.
  *
  * Usage: runMain graft.ScaleGen <baseDir> <outDir> <factor>
  */
object ScaleGen {

  val IdStride = 10000000L

  /** Per-replica word tag: k → "xb", "xc", ... (base-26 letters, never
    * empty, always letter-only so a tagged word stays one token under
    * whitespace/punct segmentation). Replica 0 has no tag. */
  def tagFor(k: Int): String = {
    require(k > 0)
    var n = k
    val sb = new StringBuilder("x")
    while (n > 0) { sb.append(('a' + (n % 26)).toChar); n /= 26 }
    sb.toString
  }

  def signPattern(dim: Int, k: Int): Seq[Float] = {
    val rnd = new java.util.Random(0xC0FFEE + k.toLong * 7919L)
    Seq.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
  }

  private def writeSingleFile(df: DataFrame, outFile: java.nio.file.Path): Unit = {
    val tmp = graft.util.Scratch.dir("scalegen").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
    val part =
      try listing
        .filter(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet"))
        .findFirst().orElseThrow()
      finally listing.close()
    java.nio.file.Files.move(part, outFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def main(args: Array[String]): Unit = {
    val Array(base, out, factorStr) = args.take(3)
    val factor = factorStr.toInt
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val outDir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outDir)

    def baseTbl(name: String) = spark.read.parquet(s"$base/$name.parquet")

    // documents: replica-tagged words, shifted ids, recomputed n_chars
    val docTags = (0 until factor).map(k => (k.toLong, if (k == 0) "" else tagFor(k)))
      .toDF("rep", "tag")
    val docs = baseTbl("documents")
      .crossJoin(broadcast(docTags))
      .select(
        (col("doc_id") + col("rep") * IdStride).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(regexp_replace(col("text"),
            lit("([A-Za-z0-9]+)"), concat(lit("$1"), col("tag")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    writeSingleFile(docs, outDir.resolve("documents.parquet"))

    // embeddings: per-replica orthogonal sign-flip, shifted ids
    val dim = baseTbl("embeddings").select(size(col("embedding"))).as[Int].head()
    val vecTags = (0 until factor)
      .map(k => (k.toLong, if (k == 0) Seq.fill(dim)(1.0f) else signPattern(dim, k)))
      .toDF("rep", "signs")
    val vecs = baseTbl("embeddings")
      .crossJoin(broadcast(vecTags))
      .select(
        (col("vec_id") + col("rep") * IdStride).as("vec_id"),
        zip_with(col("embedding"), col("signs"), (x, s) => x * s).as("embedding"),
        col("label"))
    writeSingleFile(vecs, outDir.resolve("embeddings.parquet"))

    // events: replica-local ids and users, unchanged timestamps
    val reps = (0 until factor).map(_.toLong).toDF("rep")
    val events = baseTbl("events")
      .crossJoin(broadcast(reps))
      .select(
        (col("event_id") + col("rep") * IdStride).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * IdStride).as("user_id"),
        col("event_type"), col("value"), col("props"))
    writeSingleFile(events, outDir.resolve("events.parquet"))

    // remaining tables: byte-for-byte copies
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$base/$t.parquet"),
        outDir.resolve(s"$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"[scalegen] wrote ${factor}x of $base to $out")
    spark.stop()
  }
}
