package graftbench

/** Plain-Scala reference computations the workloads compare the program's
  * results with. Each returns `Some(message)` on a mismatch. */
object Checks {

  /** Ranked `(id, score)` lists must agree id for id, score within 1e-9.
    * An empty reference is itself a failure: the check would be vacuous. */
  def sameScored(label: String, got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Option[String] =
    if (want.isEmpty) Some(s"$label: reference result is empty")
    else if (got.size != want.size) Some(s"$label: ${got.size} rows, reference has ${want.size}")
    else got.zip(want).collectFirst {
      case ((gi, gs), (wi, ws)) if gi != wi || math.abs(gs - ws) > 1e-9 =>
        s"$label: got ($gi, $gs), reference ($wi, $ws)"
    }

  /** Reciprocal-rank fusion of two ranked id lists, rounded half-up to
    * `roundTo` decimals, ordered by (score desc, id asc), cut to `k`. */
  def rrf(lex: Seq[Long], sem: Seq[Long], k: Int, rrfK: Int, roundTo: Int): Seq[(Long, Double)] = {
    val rl = lex.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val rs = sem.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    def part(r: Option[Int]) = r.fold(0.0)(x => 1.0 / (rrfK + x))
    (lex ++ sem).distinct.map { id =>
      val s = part(rl.get(id)) + part(rs.get(id))
      id -> BigDecimal(s).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sortBy(p => (-p._2, p._1)).take(k)
  }

  /** Map equality with a bounded report. */
  def sameCounts[K](label: String, got: Map[K, Long], want: Map[K, Long]): Option[String] =
    if (want.isEmpty) Some(s"$label: reference result is empty")
    else if (got == want) None
    else {
      val diff = (got.keySet ++ want.keySet).iterator.filter(k => got.get(k) != want.get(k)).take(3)
        .map(k => s"$k: got ${got.get(k)}, reference ${want.get(k)}").mkString("; ")
      Some(s"$label: ${got.size} vs ${want.size} keys; $diff")
    }

  /** The program's `cleanText` for ASCII text, written out: lowercase,
    * ASCII punctuation and digits to spaces, whitespace runs collapsed,
    * trimmed. */
  def cleanAscii(s: String): String =
    s.toLowerCase.map(c => if ((c >= '!' && c <= '/') || (c >= ':' && c <= '@') || (c >= '[' && c <= '`') ||
      (c >= '{' && c <= '~') || c.isDigit) ' ' else c).split("\\s+").filter(_.nonEmpty).mkString(" ")

  /** Exact Jaccard similarity of two documents' word 3-shingle sets. */
  def shingleJaccard(a: String, b: String, n: Int = 3): Double = {
    def sh(s: String) = { val w = Gen.asciiWords(s); if (w.length < n) Set(w.mkString(" ")) else w.sliding(n).map(_.mkString(" ")).toSet }
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / math.max(1, (x union y).size)
  }

  /** Connected components by union-find; label = smallest member id. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }
}
