package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sql.CompanionRun

/** Product quantization (Jégou, Douze & Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)) — the
  * memory-compression half of a web-scale ANN stack: each D-dim vector
  * is split into `m` subvectors and every subvector is replaced by the
  * id of its nearest per-subspace k-means centroid, so a float vector
  * becomes `m` small integers (64 floats → 8 codes here, a 32× cut) and
  * approximate distances are computed from code lookups alone —
  * asymmetric distance computation (ADC): the query keeps its exact
  * floats, each of its `m` subvectors is compared against the codebook
  * ONCE (the per-query lookup table), and a corpus vector's approximate
  * squared L2 is the sum of `m` table entries.
  *
  * Scale design (100 TB): codebooks are corpus-independent config
  * (`m × k × d/m` floats, trained on a bounded seeded sample — the
  * [[Similarity.trainedCentroids]] posture); encoding is one elementwise
  * scan (native codegen'd expression, no shuffle); ADC serving scans
  * CODES (bytes), not vectors, with the per-partition top-k prune
  * bounding the ranking exchange exactly like the other ANN paths. In a
  * real deployment PQ composes with IVF (route by coarse cell, ADC
  * within the probed lists); here it is exposed standalone so the oracle
  * checks the PQ math itself.
  *
  * Determinism contract (what lets DuckDB re-derive everything from the
  * exported codebook literals): per-subspace distances are double
  * left-to-right folds (the [[Similarity]] `dist2` sequence =
  * `list_inner_product` on `DOUBLE[]`), argmin ties keep the lowest
  * code, and the ADC sum folds subspaces in ascending order (the
  * ordered-reduce contract the bm25/coords oracles use).
  */
object ProductQuant {

  /** Per-subspace squared L2 between `v[off, off+len)` and `ct`, double
    * precision, left-to-right — the oracle-reproducible fold. */
  private[similarity] def subDist2(v: Array[Float], off: Int, ct: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < ct.length) {
      val x = v(off + i).toDouble - ct(i).toDouble
      d += x * x
      i += 1
    }
    d
  }

  /** Codebooks `[m][k][d/m]`: per-subspace k-means on the seeded
    * hash-ordered sample (same sampling as [[Similarity.trainedCentroids]]
    * — uniform over the corpus regardless of file clustering), subspace
    * `i` seeded with `seed + i` so subspaces train independently. */
  def trainedCodebooks(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      m: Int = 8,
      k: Int = 16,
      seed: Long = 42L,
      sampleSize: Int = 10000,
      distributedFrom: Int = Similarity.DistributedTrainFrom): Array[Array[Array[Float]]] = {
    if (k >= distributedFrom) {
      val (rdd, n) = Similarity.positionedSample(corpus, idCol, vecCol, seed, sampleSize)
      try trainCodebooksDistributed(rdd, n, m, k, seed)
      finally { rdd.unpersist(blocking = false); () }
    } else {
      import corpus.sparkSession.implicits._
      val sample = corpus
        .select(col(idCol), col(vecCol))
        .orderBy(xxhash64(lit(seed), col(idCol)))
        .limit(sampleSize)
        .select(col(vecCol))
        .as[Seq[Float]]
        .collect()
        .map(_.toArray)
      require(sample.nonEmpty, "trainedCodebooks: empty corpus")
      val dim = sample.head.length
      require(dim % m == 0, s"trainedCodebooks: dim $dim not divisible into $m subspaces")
      val dsub = dim / m
      Array.tabulate(m) { i =>
        val slices = sample.map(v => java.util.Arrays.copyOfRange(v, i * dsub, (i + 1) * dsub))
        Similarity.trainCentroids(slices, k, seed + i)
      }
    }
  }

  /** Argmin sub-centroid for `v[off, off+dsub)` — [[subDist2]] distances,
    * strict `<` so ties keep the lowest code (the driver path's
    * `nearestCell` contract on a copied slice, minus the copy). */
  private def nearestSubCell(v: Array[Float], off: Int, book: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val d = subDist2(v, off, book(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Distributed per-subspace Lloyd over a positioned sample — the
    * [[Similarity.trainCentroidsDistributed]] partial-sum scheme run
    * JOINTLY for all `m` subspaces: each iteration broadcasts all m
    * codebooks and one `mapPartitions` pass accumulates the
    * `[m][k][dsub]` sums + `[m][k]` counts (total `k × dim` doubles per
    * partition — the same partial size as one full-space k-means), so
    * training m codebooks costs the same number of passes as one.
    * Subspace `i` initializes by replaying the driver path's
    * `seed + i` index shuffle over the shared sample positions, and
    * ties/empty-cells behave identically — the bitwise-parity posture
    * `DistributedKmeansSpec` pins. */
  private[similarity] def trainCodebooksDistributed(
      sample: org.apache.spark.rdd.RDD[(Long, Array[Float])],
      n: Long,
      m: Int,
      k: Int,
      seed: Long,
      iters: Int = 10): Array[Array[Array[Float]]] = {
    require(n > 0 && n <= Int.MaxValue, s"trainCodebooksDistributed: bad sample size $n")
    val sc = sample.sparkContext
    val dim = sample.map(_._2.length).first()
    require(dim % m == 0, s"trainCodebooksDistributed: dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val kEff = math.min(k, n.toInt)
    val initSlots: Array[Map[Long, Int]] = Array.tabulate(m) { i =>
      val rnd = new scala.util.Random(seed + i)
      rnd.shuffle((0 until n.toInt).toList).take(kEff)
        .zipWithIndex.map { case (pos, slot) => (pos.toLong, slot) }.toMap
    }
    val bcInit = sc.broadcast(initSlots)
    var books: Array[Array[Array[Float]]] = {
      val rows = sample.flatMap { case (pos, v) =>
        (0 until m).iterator.flatMap { i =>
          bcInit.value(i).get(pos).map { slot =>
            (i, slot, java.util.Arrays.copyOfRange(v, i * dsub, (i + 1) * dsub))
          }
        }
      }.collect()
      val out = Array.fill(m)(new Array[Array[Float]](kEff))
      rows.foreach { case (i, slot, slice) => out(i)(slot) = slice }
      out
    }
    bcInit.destroy()
    (0 until iters).foreach { _ =>
      val bc = sc.broadcast(books)
      val partials = sample.mapPartitionsWithIndex { case (pid, it) =>
        val bks = bc.value
        val sums = Array.fill(m, kEff)(new Array[Double](dsub))
        val counts = Array.fill(m)(new Array[Long](kEff))
        var any = false
        it.foreach { case (_, v) =>
          any = true
          var i = 0
          while (i < m) {
            val off = i * dsub
            val c = nearestSubCell(v, off, bks(i))
            counts(i)(c) += 1
            var d = 0
            while (d < dsub) { sums(i)(c)(d) += v(off + d); d += 1 }
            i += 1
          }
        }
        if (any) Iterator((pid, sums, counts)) else Iterator.empty
      }.collect().sortBy(_._1)
      val sums = Array.fill(m, kEff)(new Array[Double](dsub))
      val counts = Array.fill(m)(new Array[Long](kEff))
      partials.foreach { case (_, ps, pc) =>
        var i = 0
        while (i < m) {
          var c = 0
          while (c < kEff) {
            counts(i)(c) += pc(i)(c)
            var d = 0
            while (d < dsub) { sums(i)(c)(d) += ps(i)(c)(d); d += 1 }
            c += 1
          }
          i += 1
        }
      }
      books = Array.tabulate(m) { i =>
        books(i).zipWithIndex.map { case (old, c) =>
          if (counts(i)(c) == 0L) old
          else sums(i)(c).map(x => (x / counts(i)(c)).toFloat)
        }
      }
      bc.destroy()
    }
    books
  }

  /** `array<float>` vector → its `m` PQ codes as `array<int>`. */
  def encodeCol(vec: Column, codebooks: Array[Array[Array[Float]]]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqEncodeExpr(org.apache.spark.sql.graft.Bridge.expression(vec), codebooks))

  /** `array<float>` query vector → its ADC lookup table as
    * `array<array<double>>` (`[m][k]` sub-distances). */
  def lutCol(vec: Column, codebooks: Array[Array[Array[Float]]]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqLutExpr(org.apache.spark.sql.graft.Bridge.expression(vec), codebooks))

  /** ADC top-k: encode the corpus once (elementwise scan), build each
    * query's lookup table once, then rank corpus CODES by the
    * table-lookup sum. Query side is a bounded batch → broadcast; the
    * per-partition prune bounds the final ranking exchange. Returns
    * `(query_id, neighbor_id, rank, adist)` with `adist` the approximate
    * squared L2, rounded to 6 for the oracle compare (ranking uses the
    * full double). */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10,
      m: Int = 8,
      kCent: Int = 16,
      seed: Long = 42L,
      sampleSize: Int = 10000,
      codebooks: Array[Array[Array[Float]]] = null): DataFrame = {
    // `codebooks` lets callers pass pretrained (memoized or persisted)
    // codebooks — training is deterministic, so the result is identical;
    // it just skips the redundant sample-collect + Lloyd per surface.
    val cbs =
      if (codebooks != null) codebooks
      else trainedCodebooks(corpus, idCol, vecCol, m, kCent, seed, sampleSize)
    val codes = corpus.select(
      col(idCol).as("neighbor_id"),
      encodeCol(col(vecCol), cbs).as("codes"))
    adcTopK(codes, queries, cbs, idCol, vecCol, k)
  }

  /** ADC ranking over an ALREADY-ENCODED code table `(neighbor_id,
    * codes)` — the serving-time stage, shared by [[pqTopK]] (codes from
    * an inline encode scan) and [[IndexStore.servePqTopK]] (codes read
    * from the persisted index). */
  def adcTopK(
      codes: DataFrame,
      queries: DataFrame,
      codebooks: Array[Array[Array[Float]]],
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10): DataFrame = {
    val luts = broadcast(queries.select(
      col(idCol).as("query_id"),
      lutCol(col(vecCol), codebooks).as("lut")))
    // sim = −adist so the shared highest-sim prune/rank machinery orders
    // by ascending approximate distance
    val scored = codes
      .crossJoin(luts)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        -aggregate(
          zip_with(col("codes"), col("lut"), (c, l) => element_at(l, c + lit(1))),
          lit(0.0), (acc, x) => acc + x))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    val pruned = Similarity.localTopKPerQuery(scored, k)
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    pruned
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(-col("sim"), 6).as("adist"))
  }

  /** Exact float-cosine re-rank of a `(query_id, neighbor_id)` shortlist
    * — the serving-time stage shared by [[pqTopKRerank]] and the
    * persisted-index path. Shortlist is queries×shortlistK rows →
    * broadcast (with query vectors attached) against the corpus scan
    * supplying exact neighbor vectors. */
  def rerankShortlist(
      shortlist: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val cand = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(broadcast(shortlist.join(qv, "query_id")), Seq("neighbor_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    cand
      .withColumn("sim", Similarity.cosineFast(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /** The full PQ serving contract: ADC produces a `shortlistK` candidate
    * shortlist from codes alone (the cheap scan), then exact float cosine
    * re-ranks only the shortlist — the re-rank stage every production PQ
    * deployment runs, and the piece that restores WITHIN-cluster ordering
    * (pure ADC cannot rank inside a tight cluster; the spec pins that).
    * Shortlist selection is deterministic (adist, then id), the re-rank
    * is the fused codegen cosine, so the whole pipeline sits under the
    * exact oracle. Returns `(query_id, neighbor_id, rank, sim)`. */
  def pqTopKRerank(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10,
      shortlistK: Int = 40,
      m: Int = 8,
      kCent: Int = 16,
      seed: Long = 42L,
      sampleSize: Int = 10000,
      codebooks: Array[Array[Array[Float]]] = null): DataFrame = {
    val shortlist =
      pqTopK(queries, corpus, idCol, vecCol, shortlistK, m, kCent, seed, sampleSize, codebooks)
        .select(col("query_id"), col("neighbor_id"))
    rerankShortlist(shortlist, queries, corpus, idCol, vecCol, k)
  }
}

/** IVFADC — the composed IVF + PQ layout that is the Jégou 2011 paper's
  * headline algorithm (§IV): the coarse quantizer routes each vector to
  * a cell, PQ encodes the RESIDUAL (vector − cell centroid, where
  * quantization error is smallest), and a query probes its `nProbe`
  * nearest cells computing one residual lookup table per probed cell.
  * The serving scan touches codes only; exactness contract as above —
  * float−float differences are exact in double, so the oracle's
  * `vec[i] − ccv[i] − rcb[i]` DOUBLE arithmetic reproduces the engine's
  * residual folds bitwise. */
object IvfPq {

  /** Per-subspace residual codebooks: each sample vector's residual to
    * its own nearest coarse centroid (double arithmetic, rounded to
    * float ONLY for k-means training — encoding recomputes residuals in
    * double), then the usual per-subspace seeded Lloyd. */
  def trainedResidualCodebooks(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      m: Int = 8,
      k: Int = 16,
      seed: Long = 42L,
      sampleSize: Int = 10000): Array[Array[Array[Float]]] = {
    import corpus.sparkSession.implicits._
    val sample = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(lit(seed), col(idCol)))
      .limit(sampleSize)
      .select(col(vecCol))
      .as[Seq[Float]]
      .collect()
      .map(_.toArray)
    require(sample.nonEmpty, "trainedResidualCodebooks: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"trainedResidualCodebooks: dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val residuals = sample.map { v =>
      val c = centroids(Similarity.nearestCell(v, centroids))
      Array.tabulate(dim)(i => (v(i).toDouble - c(i).toDouble).toFloat)
    }
    Array.tabulate(m) { i =>
      val slices = residuals.map(v => java.util.Arrays.copyOfRange(v, i * dsub, (i + 1) * dsub))
      Similarity.trainCentroids(slices, k, seed + i)
    }
  }

  /** IVFADC top-k: one elementwise scan encodes the corpus (cell +
    * residual codes), queries explode into `nProbe` (cell, lut) probes
    * (bounded batch → broadcast), candidates come from the one
    * cell-keyed join, the per-partition prune bounds the ranking
    * exchange. Returns `(query_id, neighbor_id, rank, adist)`. */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10,
      nCells: Int = 8,
      nProbe: Int = 3,
      m: Int = 8,
      kCent: Int = 16,
      seed: Long = 42L,
      sampleSize: Int = 10000,
      coarseCentroids: Array[Array[Float]] = null,
      residCodebooks: Array[Array[Array[Float]]] = null): DataFrame = {
    val centroids =
      if (coarseCentroids != null) coarseCentroids
      else Similarity.trainedCentroids(corpus, idCol, vecCol, nCells, seed, sampleSize)
    val cbs =
      if (residCodebooks != null) residCodebooks
      else trainedResidualCodebooks(corpus, centroids, idCol, vecCol, m, kCent, seed, sampleSize)
    val lists = encodeIvfLists(corpus, centroids, cbs, idCol, vecCol)
    ivfPqTopKFromLists(lists, queries, centroids, cbs, idCol, vecCol, k, nProbe)
  }

  /** The IVFADC build scan: `(neighbor_id, cell, codes)` — one
    * elementwise pass routing each vector to its cell and coding the
    * residual. The corpus-sized artifact an IVF index persists. */
  def encodeIvfLists(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      cbs: Array[Array[Array[Float]]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def cells(vec: Column, n: Int): Column =
      org.apache.spark.sql.graft.Bridge.column(
        NearestCellsExpr(org.apache.spark.sql.graft.Bridge.expression(vec), centroids, n))
    corpus.select(
      col(idCol).as("neighbor_id"),
      element_at(cells(col(vecCol), 1), 1).as("cell"),
      org.apache.spark.sql.graft.Bridge.column(
        PqEncodeResidExpr(
          org.apache.spark.sql.graft.Bridge.expression(col(vecCol)), centroids, cbs)).as("codes"))
  }

  /** The IVFADC query stages over an already-encoded `lists` table —
    * shared by the in-session path and the persisted-index serving path
    * ([[IndexStore.serveIvfPqTopK]]), which is what makes served
    * results bit-identical to the in-session ones. */
  /** `excludeIds` (a one-column `neighbor_id` table, e.g. the index
    * store's tombstones) drops candidates BEFORE top-k selection —
    * results equal ranking over a lists table without those rows. The
    * anti-join applies to the post-cell-join candidates, not to the
    * lists scan: filtering the scan directly would sit between the
    * partitioned read and the probe join and defeat the dynamic
    * partition pruning that makes serving read nProbe/nCells of the
    * index (spec-pinned in IndexStoreSpec). */
  def ivfPqTopKFromLists(
      lists: DataFrame,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      cbs: Array[Array[Array[Float]]],
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10,
      nProbe: Int = 3,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    def cells(vec: Column, n: Int): Column =
      org.apache.spark.sql.graft.Bridge.column(
        NearestCellsExpr(org.apache.spark.sql.graft.Bridge.expression(vec), centroids, n))
    val probes = broadcast(
      queries
        .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
          explode(cells(col(vecCol), nProbe)).as("cell"))
        .select(col("query_id"), col("cell"),
          org.apache.spark.sql.graft.Bridge.column(
            PqLutResidExpr(
              org.apache.spark.sql.graft.Bridge.expression(col("q_vec")),
              org.apache.spark.sql.graft.Bridge.expression(col("cell")),
              centroids, cbs)).as("lut")))
    // each corpus vector lives in exactly ONE cell and probed cells are
    // distinct → (query, neighbor) pairs unique, no dedup exchange
    val candidates = excludeIds match {
      case None => lists.join(probes, Seq("cell"))
      case Some(ex) =>
        lists.join(probes, Seq("cell"))
          .join(broadcast(ex.select("neighbor_id")), Seq("neighbor_id"), "left_anti")
    }
    val scored = candidates
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        -aggregate(
          zip_with(col("codes"), col("lut"), (c, l) => element_at(l, c + lit(1))),
          lit(0.0), (acc, x) => acc + x))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    val pruned = Similarity.localTopKPerQuery(scored, k)
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    pruned
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(-col("sim"), 6).as("adist"))
  }
}

/** Native codegen'd PQ encoder: `array<float>` → `array<int>` of `m`
  * per-subspace argmin codes (strict `<`: ties keep the lowest code). */
case class PqEncodeExpr(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if codebooks.nonEmpty && codebooks.forall(_.nonEmpty) =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires non-empty codebooks")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "pq_encode"

  override protected def companion: AnyRef = PqEncodeExpr
  override protected def constants: Seq[Expression] =
    Seq(CompanionRun.obj(codebooks, classOf[Array[Array[Array[Float]]]]))
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

object PqEncodeExpr {
  /** Shared by interpreted `eval` and generated code. */
  def run(v: ArrayData, codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val arr = v.toFloatArray()
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val cb = codebooks(i)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val d = ProductQuant.subDist2(arr, i * dsub, cb(c))
        if (d < bestD) { bestD = d; best = c } // strict < : ties keep the lowest code
        c += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native PQ ADC lookup table: query `array<float>` →
  * `array<array<double>>` of `[m][k]` per-subspace squared distances. */
case class PqLutExpr(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if codebooks.nonEmpty && codebooks.forall(_.nonEmpty) =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires non-empty codebooks")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  override def prettyName: String = "pq_lut"

  override protected def companion: AnyRef = PqLutExpr
  override protected def constants: Seq[Expression] =
    Seq(CompanionRun.obj(codebooks, classOf[Array[Array[Array[Float]]]]))
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

object PqLutExpr {
  /** Shared by interpreted `eval` and generated code. */
  def run(v: ArrayData, codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val arr = v.toFloatArray()
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val cb = codebooks(i)
      val row = new Array[Any](cb.length)
      var c = 0
      while (c < cb.length) {
        row(c) = ProductQuant.subDist2(arr, i * dsub, cb(c))
        c += 1
      }
      out(i) = new GenericArrayData(row)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Residual sub-distance: `Σ_i ((v[off+i] − cell[off+i]) − cb[i])²` in
    * double, left-to-right — both subtractions double-exact from float
    * inputs, the order the oracle's `DOUBLE[]` arithmetic reproduces. */
  private[similarity] def residSubDist2(
      v: Array[Float], cell: Array[Float], off: Int, cb: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < cb.length) {
      val x = (v(off + i).toDouble - cell(off + i).toDouble) - cb(i).toDouble
      d += x * x
      i += 1
    }
    d
  }
}

/** IVFADC corpus encoder: `array<float>` → `array<int>` residual codes —
  * the vector's nearest coarse cell is found internally and each
  * residual subvector argmin-encoded against the residual codebooks
  * (strict `<`: ties keep the lowest code). */
case class PqEncodeResidExpr(
    child: Expression,
    centroids: Array[Array[Float]],
    codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if centroids.nonEmpty && codebooks.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires non-empty centroids/codebooks")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "ivfpq_encode"

  override protected def companion: AnyRef = PqEncodeResidExpr
  override protected def constants: Seq[Expression] = Seq(
    CompanionRun.obj(centroids, classOf[Array[Array[Float]]]),
    CompanionRun.obj(codebooks, classOf[Array[Array[Array[Float]]]]))
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): PqEncodeResidExpr =
    copy(child = newChild)
}

object PqEncodeResidExpr {
  /** Shared by interpreted `eval` and generated code. */
  def run(
      v: ArrayData,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val arr = v.toFloatArray()
    val cell = centroids(Similarity.nearestCell(arr, centroids))
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val cb = codebooks(i)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val d = PqLutExpr.residSubDist2(arr, cell, i * dsub, cb(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** IVFADC query lookup table for ONE probed cell: `(array<float>, int)` →
  * `array<array<double>>` of `[m][k]` residual sub-distances of the
  * query against that cell's centroid. */
case class PqLutResidExpr(
    left: Expression,
    right: Expression,
    centroids: Array[Array[Float]],
    codebooks: Array[Array[Array[Float]]])
    extends BinaryExpression with CompanionRun {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), IntegerType) if centroids.nonEmpty && codebooks.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, int), got $other")
  }

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  override def prettyName: String = "ivfpq_lut"

  override protected def companion: AnyRef = PqLutResidExpr
  override protected def constants: Seq[Expression] = Seq(
    CompanionRun.obj(centroids, classOf[Array[Array[Float]]]),
    CompanionRun.obj(codebooks, classOf[Array[Array[Array[Float]]]]))
  override protected def nullInNullOut: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqLutResidExpr =
    copy(left = newLeft, right = newRight)
}

object PqLutResidExpr {
  /** Shared by interpreted `eval` and generated code. */
  def run(
      v: ArrayData,
      cell: Int,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val arr = v.toFloatArray()
    val cc = centroids(cell)
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val cb = codebooks(i)
      val row = new Array[Any](cb.length)
      var c = 0
      while (c < cb.length) {
        row(c) = PqLutExpr.residSubDist2(arr, cc, i * dsub, cb(c))
        c += 1
      }
      out(i) = new GenericArrayData(row)
      i += 1
    }
    new GenericArrayData(out)
  }
}
