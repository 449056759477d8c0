package graft.text

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.CompanionRun

/** The full Gopher/MassiveWeb rule bundle ([[GopherRules]], Rae 2021
  * A1.1) as ONE fused scan: `string → struct<n_words, mean_word_len,
  * symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac, stop_hits,
  * keep>`.
  *
  * The Column formulation it replaces chained ~10 higher-order array
  * functions (`split`/`filter`/`aggregate`/`transform`/
  * `array_intersect`) — every one CodegenFallback, each re-walking the
  * word or line array interpreted, per document. A quality gate is the
  * FIRST thing a 100 TB curation run applies to every document, so this
  * is exactly the operator that must run at scan speed. One expression,
  * one pass over the text (plus one over the line structure), inside
  * whole-stage codegen; codegen subexpression elimination collapses the
  * eight `getField` projections to a single evaluation.
  *
  * Value parity with the HOF formulation is EXACT (spec-pinned field by
  * field, and the DuckDB oracle re-derives every ratio):
  *   - words = maximal runs of non-`\s` chars, Java's ASCII `\s`
  *     ([ \t\n\x0B\f\r]) — what `split(c, "\\s+")` + non-empty filter
  *     produces; word length in CODE POINTS (Spark `length`);
  *   - lines = `\n`-split segments whose space-trim (`' '` only — the
  *     Spark/DuckDB `trim` default) is non-empty; bullet = trimmed line
  *     starts with one of `-*•‣▪`; ellipsis = trimmed line ends with
  *     `...` or `…`;
  *   - symbols = `#` count + LEFT-TO-RIGHT NON-OVERLAPPING `...` match
  *     count (the `regexp_replace` contract: 5 dots = 1 match) + `…`
  *     count — all exact integers, so the double ratios cannot drift;
  *   - stop_hits = DISTINCT members of the 8-word list among lowercased
  *     words (`array_intersect` dedups) — lowercasing via
  *     `UTF8String.toLowerCase`, bit-identical with Spark's `lower`;
  *   - null text → the empty-document metrics row (the `coalesce(c, '')`
  *     the Column program applied), hence `nullable = false`.
  */
case class GopherMetricsExpr(child: Expression, minWords: Int, maxWords: Int)
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = GopherMetricsExpr.OutputType

  override def nullable: Boolean = false

  override def prettyName: String = "gopher_metrics"

  override protected def companion: AnyRef = GopherMetricsExpr
  override protected def constants: Seq[Expression] = Seq(Literal(minWords), Literal(maxWords))
  override protected def nullInNullOut: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): GopherMetricsExpr =
    copy(child = newChild)
}

object GopherMetricsExpr {

  val OutputType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("symbol_ratio", DoubleType, nullable = false),
    StructField("bullet_frac", DoubleType, nullable = false),
    StructField("ellipsis_frac", DoubleType, nullable = false),
    StructField("alpha_frac", DoubleType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("keep", BooleanType, nullable = false)))

  // index in this list = bit in the distinct-hit mask
  private val Stopwords: Array[String] = GopherRules.GopherStopwords.toArray

  // Java regex `\s` — ASCII-only without UNICODE_CHARACTER_CLASS
  @inline private def isJavaWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def isBullet(c: Char): Boolean =
    c == '-' || c == '*' || c == '•' || c == '‣' || c == '▪'

  /** Shared by interpreted `eval` and generated code. */
  def run(s: UTF8String, minWords: Int, maxWords: Int): InternalRow = {
    val t = if (s == null) "" else s.toString

    // ---- pass 1: words (runs of non-\s), # / ... / … symbol counts ----
    var nWords = 0L
    var sumWordLen = 0L // code points
    var alphaWords = 0L
    var stopMask = 0
    var hashes = 0L
    var hellip = 0L // U+2026
    var dotRun = 0 // consecutive '.' for non-overlapping "..." matches
    var dotTriples = 0L
    var wordStart = -1
    var i = 0
    val len = t.length
    while (i <= len) {
      val c = if (i < len) t.charAt(i) else ' ' // virtual trailing boundary
      if (isJavaWs(c)) {
        if (wordStart >= 0) {
          nWords += 1
          sumWordLen += t.codePointCount(wordStart, i)
          var j = wordStart
          var alpha = false
          while (!alpha && j < i) {
            val wc = t.charAt(j)
            if ((wc >= 'A' && wc <= 'Z') || (wc >= 'a' && wc <= 'z')) alpha = true
            j += 1
          }
          if (alpha) alphaWords += 1
          if (i - wordStart <= 6) { // stopwords are <= 4 ASCII chars; margin
            val lw = UTF8String.fromString(t.substring(wordStart, i)).toLowerCase.toString
            var k = 0
            while (k < Stopwords.length) {
              if (Stopwords(k) == lw) stopMask |= 1 << k
              k += 1
            }
          }
          wordStart = -1
        }
      } else if (wordStart < 0) wordStart = i
      if (i < len) {
        if (c == '#') hashes += 1
        else if (c == '…') hellip += 1
        if (c == '.') {
          dotRun += 1
          if (dotRun == 3) { dotTriples += 1; dotRun = 0 }
        } else dotRun = 0
      }
      i += 1
    }

    // ---- pass 2: lines (\n segments, space-trimmed) ----
    var nLines = 0L
    var bulletLines = 0L
    var ellipsisLines = 0L
    var ls = 0
    i = 0
    while (i <= len) {
      if (i == len || t.charAt(i) == '\n') {
        var a = ls
        var b = i
        while (a < b && t.charAt(a) == ' ') a += 1
        while (b > a && t.charAt(b - 1) == ' ') b -= 1
        if (a < b) {
          nLines += 1
          if (isBullet(t.charAt(a))) bulletLines += 1
          if (t.charAt(b - 1) == '…' ||
            (b - a >= 3 && t.charAt(b - 1) == '.' && t.charAt(b - 2) == '.' && t.charAt(b - 3) == '.'))
            ellipsisLines += 1
        }
        ls = i + 1
      }
      i += 1
    }

    val safeWords = math.max(nWords, 1L).toDouble
    val safeLines = math.max(nLines, 1L).toDouble
    val meanWordLen = sumWordLen.toDouble / safeWords
    val symbolRatio = (hashes + dotTriples + hellip).toDouble / safeWords
    val bulletFrac = bulletLines.toDouble / safeLines
    val ellipsisFrac = ellipsisLines.toDouble / safeLines
    val alphaFrac = alphaWords.toDouble / safeWords
    val stopHits = java.lang.Integer.bitCount(stopMask).toLong
    val keep = nWords >= minWords && nWords <= maxWords &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      symbolRatio <= 0.1 && bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
      alphaFrac >= 0.8 && stopHits >= 2L

    new GenericInternalRow(Array[Any](
      nWords, meanWordLen, symbolRatio, bulletFrac, ellipsisFrac,
      alphaFrac, stopHits, keep))
  }
}
