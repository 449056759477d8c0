package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.dedup._
import graft.embed.QuantizeInt8Expr
import graft.similarity._
import graft.text._
import graft.topic.ChunkTextsExpr

/** Codegen vs interpreted parity for graft's native expressions. The
  * codegen arm runs whole-stage codegen with
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY`, so every projection is
  * generated Java; the interpreted arm turns whole-stage codegen off AND
  * sets `factoryMode=NO_CODEGEN`, the only setting under which Spark
  * builds interpreted projections and so calls `Expression.eval`
  * (`wholeStage=false` alone still compiles the projection). Both must
  * produce identical rows. Every input frame is repartitioned, so the
  * optimizer cannot fold the projection over a local relation. */
class ExprParitySpec extends SparkSpec {

  import spark.implicits._

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def codegen[T](body: => T): T = withConf(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(body)

  private def interpreted[T](body: => T): T = withConf(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  test("MatVecExpr: codegen == interpreted == reference rotation") {
    val rnd = new scala.util.Random(5)
    val r = Array.fill(8, 8)(rnd.nextGaussian())
    val df = (0L until 50L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("id", "v").repartition(3)
    def run() =
      df.select($"id", graft.similarity.Opq.rotateCol($"v", r).as("y"))
        .orderBy("id").as[(Long, Seq[Float])].collect().toSeq
    val gen = codegen(run())
    val interp = interpreted(run())
    assert(gen == interp)
    // reference arithmetic: double accumulation in index order → float
    def rotRef(v: Seq[Float]): Seq[Float] =
      r.map(row => row.zip(v).map { case (a, x) => a * x.toDouble }.sum.toFloat).toSeq
    val vecs = df.orderBy("id").as[(Long, Seq[Float])].collect()
    vecs.zip(gen).foreach { case ((_, v), (_, y)) => assert(y == rotRef(v)) }
  }

  test("TokenCountExpr: codegen == interpreted == size(tokenize), nulls count 0") {
    val df = Seq(
      (1L, "spark window merge"), (2L, ""), (3L, null: String), (4L, "a b  c   d"))
      .toDF("id", "text").repartition(2)
    def run() =
      df.select($"id", graft.text.Tokenize.tokenCount($"text").as("n"))
        .orderBy("id").as[(Long, Int)].collect().toSeq
    val gen = codegen(run())
    val interp = interpreted(run())
    assert(gen == interp)
    val viaSize = df
      .select($"id", size(graft.text.Tokenize.tokenize($"text")).as("n"))
      .orderBy("id").as[(Long, Int)].collect().toSeq
    assert(gen == viaSize)
    assert(gen.find(_._1 == 3L).map(_._2).contains(0))
  }

  // ---- input frames: row 0 is null, row 1 empty (where the expression
  // accepts an empty value), the rest ordinary ----

  private val rnd = new scala.util.Random(11)
  private def x(c: Column): Expression = Bridge.expression(c)
  private def withIds[T](rows: Seq[T]): Seq[(Long, T)] = rows.zipWithIndex.map { case (r, i) => (i.toLong, r) }

  private val Dim = 4
  private def vec(): Array[Float] = Array.fill(Dim)(rnd.nextGaussian().toFloat)

  private lazy val texts: DataFrame = withIds(Seq[String](
    null,
    "",
    "The cat sat on the mat and it was good to see the cat again.",
    "Ünïcödé naïve café — 日本語 テキスト, with emoji 😀 and punctuation!!!",
    "- bullet one\n- bullet two...\n\nSecond paragraph. It has sentences. More words here…\n# tag",
    "a b  c   d",
    (1 to 60).map(i => s"word${i % 17}").mkString(" ") + ". " +
      (1 to 40).map(i => s"term${i % 5}").mkString(" ") + "!")).toDF("id", "text").repartition(2)

  private lazy val words: DataFrame = withIds(Seq[Seq[String]](
    null,
    Seq.empty,
    Seq("the", "cat", null, "the"),
    Seq("the", "cat", "sat", "on", "the", "mat", "the", "end"),
    (1 to 30).map(i => s"w${i % 4}"))).toDF("id", "words").repartition(2)

  private lazy val sortedPairs: DataFrame = withIds(Seq[(Seq[String], Seq[String])](
    (null, Seq("a")),
    (Seq.empty, Seq.empty),
    (Seq("a"), null),
    (Seq("a", "b", "c"), Seq("b", "c", "d")),
    (Seq(null, "a", "q"), Seq(null, "b", "q")),
    ((1 to 20).map(i => f"t$i%02d"), (10 to 30 by 2).map(i => f"t$i%02d"))))
    .map { case (i, (l, r)) => (i, l, r) }.toDF("id", "l", "r").repartition(2)

  private def vecs(withEmpty: Boolean): DataFrame =
    withIds(Seq[Array[Float]](null) ++ (if (withEmpty) Seq(Array.empty[Float]) else Nil) ++
      Seq.fill(20)(vec()) :+ Array.fill(Dim)(0f)).toDF("id", "v").repartition(2)

  private lazy val vecPairs: DataFrame = withIds(Seq[(Seq[java.lang.Float], Seq[java.lang.Float])](
    (null, Seq(1f, 2f)),
    (Seq.empty, Seq.empty),
    (Seq(1f, 2f), null),
    (Seq(1f, 2f), Seq(1f, 2f, 3f)),
    (Seq(1f, null), Seq(1f, 2f)),
    (Seq(0f, 0f), Seq(1f, 2f))) ++
    Seq.fill(12)((vec().toSeq.map(Float.box), vec().toSeq.map(Float.box))))
    .map { case (i, (a, b)) => (i, a, b) }.toDF("id", "a", "b").repartition(2)

  private lazy val vecsNullElem: DataFrame = withIds(Seq[Seq[java.lang.Float]](
    null, Seq.empty, Seq(1f, null, 2f), Seq(0f, 0f, 0f)) ++
    Seq.fill(12)(vec().toSeq.map(f => Float.box(f * 3)))).toDF("id", "v").repartition(2)

  private lazy val intPairs: DataFrame = withIds(Seq[(Seq[Integer], Seq[Integer])](
    (null, Seq(1, 2)),
    (Seq.empty, Seq.empty),
    (Seq(1, 2), null),
    (Seq(1, 2), Seq(1, 2, 3)),
    (Seq(1, null), Seq(3, 4)),
    (Seq(127, -127), Seq(-127, 127))) ++
    Seq.fill(12)((Seq.fill(8)(Int.box(rnd.nextInt(255) - 127)), Seq.fill(8)(Int.box(rnd.nextInt(255) - 127)))))
    .map { case (i, (a, b)) => (i, a, b) }.toDF("id", "a", "b").repartition(2)

  private lazy val longArrays: DataFrame = withIds(Seq[Seq[Long]](
    null, Seq.empty, Seq(1L, 2L, 3L), Seq(-5L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 11L),
    Seq.fill(16)(rnd.nextLong()))).toDF("id", "keys").repartition(2)

  private lazy val vecCells: DataFrame = withIds(Seq[(Array[Float], Option[Int])](
    (null, Some(0)), (vec(), None)) ++ (0 until 12).map(i => (vec(), Some(i % 3))))
    .map { case (i, (v, c)) => (i, v, c) }.toDF("id", "v", "cell").repartition(2)

  private val centroids = Array.fill(3)(vec())
  private val codebooks = Array.fill(2, 4)(Array.fill(Dim / 2)(rnd.nextGaussian().toFloat))
  private val matrix = Array.fill(Dim, Dim)(rnd.nextGaussian())

  private val BloomBits = 1024
  private val BloomHashes = 3
  private lazy val bloom = {
    val words = new Array[Long](BloomBits / 64)
    for (key <- Seq(1L, 2L, 5L, 6L, 7L); j <- 0 until BloomHashes) {
      val pos = BloomFlaggedExpr.hashPos(j, key, BloomBits)
      words((pos >>> 6).toInt) |= 1L << (pos & 63L).toInt
    }
    spark.sparkContext.broadcast(words)
  }

  private lazy val tokens: Expression =
    x(when($"text".isNotNull, Tokenize.tokenize($"text")))

  /** One row per native expression: (name, input frame, expression). */
  private def cases: Seq[(String, DataFrame, Expression)] = Seq(
    ("tokenize_plain_words", texts, TokenizeExpr(x($"text"), lowercase = true, removePunct = true)),
    ("tokenize_plain_words (cased)", texts, TokenizeExpr(x($"text"), lowercase = false, removePunct = false)),
    ("fnv1a64", texts, Fnv1aExpr(x($"text"))),
    ("concordance", texts, ConcordanceExpr(x($"text"), "cat", 2, 2, regex = false, caseSensitive = false)),
    ("concordance (empty pattern)", texts, ConcordanceExpr(x($"text"), "", 2, 2, regex = false, caseSensitive = false)),
    ("token_count", texts, TokenCountExpr(x($"text"), lowercase = true, removePunct = true)),
    ("gopher_metrics", texts, GopherMetricsExpr(x($"text"), 3, 100000)),
    ("token_strings", texts, TokenStringsExpr(tokens)),
    ("adjacent_pairs", words, AdjacentPairsExpr(x($"words"), 2, 20)),
    ("array_count_eq", words, ArrayCountEqExpr(x($"words"), "the")),
    ("codepoint_rolling_hash", texts, CodePointHashExpr(x($"text"))),
    ("shingle_keys", texts, ShingleKeysExpr(x($"text"), 3)),
    ("winnow_fingerprints", texts, WinnowExpr(x($"text"), 3, 4)),
    ("bloom_flagged", longArrays, BloomFlaggedExpr(x($"keys"), bloom, BloomBits, BloomHashes)),
    ("minhash_signature", texts, MinHashExpr(x($"text"), 16, 3, 42L)),
    ("simhash64", texts, SimHashExpr(x($"text"))),
    ("lsh_band_hashes", longArrays, BandHashesExpr(x($"keys"), 4)),
    ("sorted_intersect_count", sortedPairs, SortedIntersectCountExpr(x($"l"), x($"r"))),
    ("mat_vec", vecs(withEmpty = false), MatVecExpr(x($"v"), matrix)),
    ("pq_encode", vecs(withEmpty = false), PqEncodeExpr(x($"v"), codebooks)),
    ("pq_lut", vecs(withEmpty = false), PqLutExpr(x($"v"), codebooks)),
    ("ivfpq_encode", vecs(withEmpty = false), PqEncodeResidExpr(x($"v"), centroids, codebooks)),
    ("ivfpq_lut", vecCells, PqLutResidExpr(x($"v"), x($"cell"), centroids, codebooks)),
    ("cosine_sim", vecPairs, CosineSimExpr(x($"a"), x($"b"))),
    ("int_dot", intPairs, IntDotExpr(x($"a"), x($"b"))),
    ("nearest_cells", vecs(withEmpty = true), NearestCellsExpr(x($"v"), centroids, 2)),
    ("lsh_buckets", vecs(withEmpty = true), LshBucketsExpr(x($"v"), 3, 8, 7L)),
    ("chunk_texts", texts, ChunkTextsExpr(x($"text"), 8, 2, "")),
    ("quantize_int8", vecsNullElem, QuantizeInt8Expr(x($"v"))))

  test("every native expression: CODEGEN_ONLY == NO_CODEGEN on null, empty and ordinary inputs") {
    val all = cases
    // 27 expression classes; tokenize and concordance also run a second constant set
    assert(all.map(_._3.getClass).distinct.size == 27)
    all.foreach { case (name, df, e) =>
      def run(): Seq[Row] =
        df.select($"id", Bridge.column(e).as("out")).collect().toSeq.sortBy(_.getLong(0))
      val gen = codegen(run())
      val interp = interpreted(run())
      assert(gen.size == df.count(), name)
      assert(gen.exists(!_.isNullAt(1)), s"$name: every output is null")
      assert(gen == interp, s"$name: codegen $gen != interpreted $interp")
    }
  }
}
