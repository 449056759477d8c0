package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.cache.TypedCaches
import graft.dedup.Dedup
import graft.text.{Concordance, TextFunctions, TokenFrequencies, Tokenize}
import graft.topic.TopicModeling

/** `corpus_batch`: each op is one full analyst pass over a seeded corpus —
  * text counts and cleaning, tokenize, keyness, concordance, the cached
  * tokenizer, near-duplicate pairs and clusters, and topic modeling on a
  * fixed subset. Between passes half of the documents keep their text (the
  * cache hits) and the rest get fresh text (the cache misses). */
final class CorpusBatch extends Workload {
  val name = "corpus_batch"
  val Docs = 800
  val TopicDocs = 150
  val MaxDriverChunks = 2000
  val CheckEvery = 1
  /** The warmup's pass number; loop passes count from 0. */
  val WarmupPass = 1000000

  override def opSeconds: Double = 4.0

  private var pool: Array[Gen.Doc] = _
  private var searchWord: String = _
  private var topicIds: Set[Long] = _
  /** Current text per slot; a slot's text changes when it is refreshed. */
  private var texts: Array[String] = _
  private var cacheDir: String = _
  private val seenTexts = scala.collection.mutable.HashSet.empty[String]

  private final case class Pass(
      texts: Array[String],
      clean: Seq[Row], tokens: Seq[Row], keyness: Seq[Row], conc: Seq[Row],
      cached: Seq[Row], pairs: Seq[Row], clusters: Seq[Row], topic: TopicModeling.Output, topicDocs: Long)
  private val kept = ArrayBuffer.empty[Pass]

  private def marker(pass: Int): String = "qx" + pass.toString.map(d => ('a' + (d - '0')).toChar)

  def setup(ctx: Ctx, dir: String): Unit = {
    if (pool == null) Main.phase("generate") {
      pool = ctx.gen.docs(Docs)
      searchWord = ctx.gen.vocab(40)
      topicIds = ctx.gen.shuffle(pool.toSeq.map(_.id)).take(TopicDocs).toSet
    }
    import ctx.spark.implicits._
    // the corpus on disk, and a token cache primed from it
    texts = pool.map(_.text)
    seenTexts.clear()
    cacheDir = s"$dir/cache"
    pool.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    val corpus = ctx.spark.read.parquet(s"$dir/corpus")
    TypedCaches.cachedTokenize(ctx.spark, cacheDir, corpus, "text").agg(sum(size(col("tokens")))).collect()
    seenTexts ++= texts
  }

  /** Refresh the slots not chosen to repeat: the pool text plus a pass
    * marker, so fresh texts never hit the cache. */
  private def advance(ctx: Ctx, pass: Int): Unit = {
    val keep = ctx.gen.keepMask(pass, texts.length)
    for (j <- texts.indices if !keep(j)) texts(j) = pool(j).text + " " + marker(pass)
  }

  private def frame(ctx: Ctx): DataFrame = {
    import ctx.spark.implicits._
    pool.indices.map(j => (pool(j).id, texts(j))).toDF("doc_id", "text")
  }

  private def pass(ctx: Ctx, df: DataFrame, passTexts: Array[String]): Pass = {
    val spark = ctx.spark
    import spark.implicits._
    val clean = ctx.span("text", "text.clean_count") {
      df.select(col("doc_id"), TextFunctions.cleanText(col("text")).as("clean"),
        TextFunctions.wordCount(col("text")).as("words"), TextFunctions.charCount(col("text")).as("chars"),
        TextFunctions.sentenceCount(col("text")).as("sentences")).collect().toSeq
    }
    val tokens = ctx.span("text", "text.tokenize") {
      df.select(col("doc_id"), size(Tokenize.tokenize(col("text"))).as("n")).collect().toSeq
    }
    val keyness = ctx.span("text", "text.keyness") {
      val counts = TokenFrequencies.conditionalTokenFrequencies(df, "text", col("doc_id") % 2 === 0)
      TokenFrequencies.tokenFrequencyStatsFromCounts(counts)
        .select("token", "freq_corpus_0", "freq_corpus_1", "log_likelihood_llv").collect().toSeq
    }
    val conc = ctx.span("text", "text.concordance") {
      df.select(col("doc_id"), explode(Concordance.concordanceCol(col("text"), searchWord)).as("m"))
        .groupBy("doc_id").count().collect().toSeq
    }
    val cached = ctx.span("cache", "cache.tokenize") {
      TypedCaches.cachedTokenize(spark, cacheDir, df, "text")
        .select(col("doc_id"), size(col("tokens")).as("n")).collect().toSeq
    }
    val pairs = ctx.span("dedup", "dedup.near_dup") {
      Dedup.nearDuplicates(df, "text", "doc_id").select("id_a", "id_b").collect().toSeq
    }
    val clusters = ctx.span("dedup", "dedup.clusters") {
      val pdf = pairs.map(r => (r.getLong(0), r.getLong(1))).toDF("id_a", "id_b")
      Dedup.duplicateClusters(pdf).select("doc_id", "cluster_id").collect().toSeq
    }
    val sub = df.filter(col("doc_id").isin(topicIds.toSeq: _*))
    val t0 = ctx.tracer.now()
    val topic = ctx.span("topic", "topic.run") {
      val out = TopicModeling.run(sub, "text", cfg = TopicModeling.Config(maxDriverChunks = MaxDriverChunks))
      out.documents.count()
      out
    }
    ctx.tracer.addChildren("topic.run", t0, topic.stageTimings.filter(_._1 != "total").map { case (stage, ms) =>
      (if (stage.startsWith("embed")) "embed" else "topic", s"topic.$stage", ms)
    })
    Pass(passTexts, clean, tokens, keyness, conc, cached, pairs, clusters, topic, topicIds.size)
  }

  /** One untimed pass like a loop pass, cache misses included, compiles
    * every plan the loop runs and warms the JIT on full-size data. */
  def warmup(ctx: Ctx): Unit = {
    advance(ctx, WarmupPass)
    pass(ctx, frame(ctx), texts.clone())
    seenTexts ++= texts
  }

  private var cacheHits, cacheLookups = 0L
  private var bytesWritten = 0L
  private var nOps = 0

  def op(ctx: Ctx, i: Int): OpRec = {
    advance(ctx, i)
    val df = frame(ctx)
    val distinct = texts.toSet
    cacheHits += distinct.count(seenTexts.contains); cacheLookups += distinct.size
    val before = Store.bytes(cacheDir)
    var p: Pass = null
    val r = ctx.timedOp("pass", Docs) { p = pass(ctx, df, texts.clone()) }
    bytesWritten += Store.bytes(cacheDir) - before
    seenTexts ++= distinct
    nOps += 1
    if (i % CheckEvery == 0) kept += p
    r
  }

  override def finish(ctx: Ctx): Unit = {
    ctx.layer("cache.tokenize.hit_ratio") = cacheHits.toDouble / math.max(1L, cacheLookups)
    ctx.layer("cache.bytes_written") = bytesWritten.toDouble / math.max(1, nOps)
  }

  // ---- checks ----

  def check(ctx: Ctx): (Int, Seq[String]) = {
    val bad = ArrayBuffer.empty[String]
    kept.zipWithIndex.foreach { case (p, k) =>
      checkPass(ctx, p).headOption.foreach(m => bad += s"pass ${k * CheckEvery}: $m")
    }
    kept.headOption.foreach { p =>
      import ctx.spark.implicits._
      val df = pool.indices.map(j => (pool(j).id, p.texts(j))).toDF("doc_id", "text")
      val cands = Dedup.lshCandidatePairs(Dedup.minHashSignatures(df, "text", "doc_id")).count()
      ctx.layer("dedup.candidate_pairs") = cands.toDouble
      ctx.layer("dedup.kept_ratio") = p.pairs.size.toDouble / math.max(1L, cands)
    }
    (kept.size, bad.toSeq)
  }

  private def checkPass(ctx: Ctx, p: Pass): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    val ascii = pool.indices.filter(j => !pool(j).cjk)
    val textOf = pool.indices.map(j => pool(j).id -> p.texts(j)).toMap
    // text counts and cleaning, written out in plain Scala
    val clean = p.clean.map(r => r.getLong(0) -> r).toMap
    ascii.iterator.map(j => pool(j).id).find { id =>
      val r = clean(id); val t = textOf(id)
      r.getString(1) != Checks.cleanAscii(t) || r.getLong(2) != t.split("\\s+").count(_.nonEmpty) ||
      r.getLong(3) != t.codePointCount(0, t.length)
    }.foreach(id => bad += s"clean/count mismatch for doc $id")
    // token counts, uncached and cached
    val words = ascii.map(j => pool(j).id -> Gen.asciiWords(p.texts(j)).length.toLong).toMap
    Checks.sameCounts("tokenize", p.tokens.map(r => r.getLong(0) -> r.getInt(1).toLong).toMap.filter(e => words.contains(e._1)), words).foreach(bad += _)
    Checks.sameCounts("cachedTokenize", p.cached.map(r => r.getLong(0) -> r.getInt(1).toLong).toMap.filter(e => words.contains(e._1)), words).foreach(bad += _)
    // keyness frequencies of ASCII tokens against a plain count per half
    val want = pool.indices.flatMap(j => Gen.asciiWords(p.texts(j)).map(w => (w, pool(j).id % 2 == 0)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = p.keyness.filter(r => r.getString(0).matches("[a-z]+"))
      .flatMap(r => Seq((r.getString(0), true) -> r.getLong(1), (r.getString(0), false) -> r.getLong(2))).filter(_._2 > 0).toMap
    Checks.sameCounts("keyness", got, want).foreach(bad += _)
    // concordance: literal, case-insensitive occurrences per document
    val concWant = textOf.map { case (id, t) => id -> occurrences(t.toLowerCase, searchWord) }.filter(_._2 > 0)
    Checks.sameCounts("concordance", p.conc.map(r => r.getLong(0) -> r.getLong(1)).toMap, concWant).foreach(bad += _)
    // near-duplicates: every planted copy with exact Jaccard >= 0.9 found,
    // no reported pair below 0.5
    val found = p.pairs.map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
    val planted = pool.filter(_.copyOf >= 0).map(d => (math.min(d.id, d.copyOf), math.max(d.id, d.copyOf)))
      .filter { case (a, b) => Checks.shingleJaccard(textOf(a), textOf(b)) >= 0.9 }
    if (planted.isEmpty) bad += "no planted near-duplicate pair to check"
    planted.find(pr => !found.contains(pr)).foreach(pr => bad += s"near-duplicate pair $pr not found")
    found.find { case (a, b) => Checks.shingleJaccard(textOf(a), textOf(b)) < 0.5 }
      .foreach(pr => bad += s"pair $pr reported with exact Jaccard below 0.5")
    // clusters: union-find over the reported pairs
    val cc = Checks.components(found.toSeq)
    val gotCc = p.clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (gotCc != cc) bad += s"duplicateClusters differ from union-find (${gotCc.size} vs ${cc.size} members)"
    // topic modeling: every subset document labelled, at least one topic
    val nDocs = p.topic.documents.select("doc_id").distinct().count()
    if (nDocs != p.topicDocs || p.topic.nTopics < 1)
      bad += s"topic run labelled $nDocs of ${p.topicDocs} docs into ${p.topic.nTopics} topics"
    bad.toSeq
  }

  private def occurrences(s: String, w: String): Long = {
    var n = 0L; var i = s.indexOf(w)
    while (i >= 0) { n += 1; i = s.indexOf(w, i + w.length) }
    n
  }
}

/** Byte and file counts from the benchmark's own listing of a directory. */
object Store {
  private def files(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else if (f.isFile) Seq(f) else Nil
    walk(new File(path))
  }
  def bytes(path: String): Long = files(path).map(_.length).sum
  /** Path → size of every file under `path`. */
  def listing(path: String): Map[String, Long] = files(path).map(f => f.getPath -> f.length).toMap
}
