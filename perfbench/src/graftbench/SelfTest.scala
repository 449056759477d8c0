package graftbench

import scala.collection.mutable.ArrayBuffer

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  *
  *  - the generator is deterministic per seed; its CJK, near-duplicate,
  *    hot-term and cache-repeat shares, document lengths and event mix
  *    land within tolerance;
  *  - each checker flags a corrupted result;
  *  - a mismatch found by a workload's check is counted as a failed op. */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]
  private def expect(cond: Boolean, what: String): Unit = if (!cond) failures += what
  private def near(x: Double, want: Double, tol: Double, what: String): Unit =
    expect(math.abs(x - want) <= tol, f"$what: $x%.4f not within $tol of $want")

  def generator(): Unit = {
    def sample(seed: Long) = { val g = new Gen(seed); (g.docs(3000), g.queries(2000), g) }
    val (d1, q1, g1) = sample(7)
    val (d2, q2, g2) = sample(7)
    val (_, _, g3) = sample(8)
    expect(g1.digest == g2.digest && d1.sameElements(d2) && q1.sameElements(q2), "same seed gives different inputs")
    expect(g1.digest != g3.digest, "different seeds give the same input hash")
    near(d1.count(_.cjk).toDouble / d1.length, Gen.CjkShare, 0.02, "CJK share")
    near(d1.count(_.copyOf >= 0).toDouble / d1.length, Gen.NearDupShare, 0.015, "near-duplicate share")
    near(q1.count(_.exists(g1.hotTerms.contains)).toDouble / q1.length, Gen.HotQueryShare, 0.03, "hot-term query share")
    val masks = (1 to 20).map(p => g1.keepMask(p, 1000))
    near(masks.map(_.count(identity)).sum / 20000.0, Gen.CacheRepeatShare, 0.02, "cache-repeat share")
    val ascii = d1.filterNot(_.cjk)
    expect(ascii.forall(d => d.text.matches("[a-z .]+")), "ASCII documents hold characters other than a-z, space and period")
    val lengths = d1.filter(_.copyOf < 0).map(d => d.text.split(" ").length)
    expect(lengths.min >= Gen.MinWords && lengths.max <= Gen.MaxWords, s"lengths ${lengths.min}-${lengths.max} words")
    near(lengths.sum.toDouble / lengths.length, (Gen.MinWords + Gen.MaxWords) / 2.0, 2.0, "mean words per document")
    val ev = g1.events(20000)
    near(ev.count(_._1 == 0).toDouble / ev.length, 1.0 / Gen.EventTypes, 0.02, "share of one event type")
    near(ev.map(_._3).sum / ev.length, Gen.EventMean, 2.0, "mean event value")
    val copies = ascii.filter(_.copyOf >= 0)
    val byId = d1.map(d => d.id -> d).toMap
    near(copies.count(c => Checks.shingleJaccard(c.text, byId(c.copyOf).text) >= 0.8).toDouble / copies.length, 1.0, 0.25,
      "near-copies above Jaccard 0.8")
  }

  def checkers(): Unit = {
    val want = Seq(3L -> 2.5, 9L -> 1.25, 4L -> 1.0)
    expect(Checks.sameScored("t", want, want).isEmpty, "sameScored rejects equal lists")
    expect(Checks.sameScored("t", Seq(3L -> 2.5, 9L -> 1.2500001, 4L -> 1.0), want).nonEmpty, "sameScored misses a changed score")
    expect(Checks.sameScored("t", Seq(9L -> 2.5, 3L -> 1.25, 4L -> 1.0), want).nonEmpty, "sameScored misses swapped ids")
    expect(Checks.sameScored("t", want.take(2), want).nonEmpty, "sameScored misses a dropped row")
    expect(Checks.sameScored("t", Nil, Nil).nonEmpty, "sameScored accepts an empty reference")
    val counts = Map("a" -> 2L, "b" -> 5L)
    expect(Checks.sameCounts("t", counts, counts).isEmpty, "sameCounts rejects equal maps")
    expect(Checks.sameCounts("t", counts.updated("b", 6L), counts).nonEmpty, "sameCounts misses an off-by-one")
    expect(Checks.sameCounts("t", counts + ("c" -> 1L), counts).nonEmpty, "sameCounts misses an extra key")
    expect(Checks.cleanAscii("Ab, c1d  e.") == "ab c d e", "cleanAscii")
    val rrf = Checks.rrf(Seq(1L, 2L, 3L), Seq(3L, 4L), k = 3, rrfK = 60, roundTo = 6)
    expect(rrf.map(_._1) == Seq(3L, 1L, 2L), s"rrf order $rrf")
    expect(Checks.components(Seq(5L -> 2L, 2L -> 9L, 7L -> 8L)) == Map(5L -> 2L, 2L -> 2L, 9L -> 2L, 7L -> 7L, 8L -> 7L),
      "union-find components")
  }

  /** A workload whose ops sum numbers in Spark and whose check compares
    * each kept sum with plain Scala; one kept result is corrupted. */
  final class Corrupted extends Workload {
    val name = "selftest"
    private val kept = ArrayBuffer.empty[(Int, Long)]
    def setup(ctx: Ctx, dir: String): Unit = ()
    def warmup(ctx: Ctx): Unit = ctx.spark.range(10).selectExpr("sum(id)").head()
    def op(ctx: Ctx, i: Int): OpRec = {
      var s = 0L
      val r = ctx.timedOp("sum", 1) { s = ctx.spark.range(i + 10).selectExpr("sum(id)").head().getLong(0) }
      kept += ((i, if (i == 0) s + 1 else s))
      r
    }
    def check(ctx: Ctx): (Int, Seq[String]) =
      (kept.size, kept.toSeq.flatMap { case (i, s) =>
        val n = i + 10L
        Checks.sameCounts(s"op $i", Map("sum" -> s), Map("sum" -> n * (n - 1) / 2))
      })
  }

  def accounting(runDir: String): Unit = {
    val (attempted, failed) = Main.run(new Corrupted, 1L, 2, traced = false, 2, runDir, None)
    expect(attempted >= 2, s"the stub ran $attempted ops")
    expect(failed == 1, s"one corrupted result counted as $failed failed ops")
  }

  def main(args: Array[String]): Unit = {
    generator(); checkers(); accounting(args(0))
    failures.foreach(f => System.err.println(s"perfbench: selftest FAILED $f"))
    println(Json.obj(Map("selftest" -> (if (failures.isEmpty) "passed" else "failed"), "failures" -> failures.size)))
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}
