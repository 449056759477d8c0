package graft.util

import org.apache.spark.sql.{DataFrame, DataFrameReader, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Once-per-file-state artifact metadata memo (round 22, guide §1/§7.3).
  *
  * A schemaless `spark.read.parquet` runs a footer-inference JOB per
  * call (~30–75 ms plus a driver gap on this box), and the serving/probe
  * paths re-read the same immutable artifact trees on every query — the
  * round-21 fixed-schema change covered the artifacts whose schema is a
  * store-format constant, but the ID-TYPED artifacts (codes, signatures,
  * bands, postings, doclens, tombstones) deliberately kept inference
  * because their id column's type belongs to the caller. This memo keeps
  * that ownership — the type is still read from the artifact's own
  * footers, never assumed — but reads it ONCE PER FILE STATE instead of
  * once per query: every entry carries a freshness token over the
  * path's mtime and its direct children (names + mtimes), so any
  * single-writer mutation of the tree (append subdir, compaction swap,
  * tombstone write, testdata regeneration — the ADVICE r21 tblSchemas
  * hole) changes the token and forces a re-read. The same rule covers
  * one-row metadata artifacts that only writes change (a store's
  * `meta`/`stats` rows, via [[once]]) — the metadata a catalog/metastore
  * would hold. DATA is re-read from parquet on every call as before,
  * and query results are never memoized.
  *
  * Posture and limits:
  *   - BOUNDED: one entry per (path, kind), replaced in place when the
  *     path's token changes, and every miss drops the entries whose path
  *     no longer exists (compaction GC'd versioned trees, cleared
  *     tombstones). A long-lived process holds one entry per live
  *     artifact it reads, however many appends, deletes and compactions
  *     pass.
  *   - local-filesystem paths only (the bench/test regime; production
  *     object stores put this metadata in a real catalog): non-local or
  *     unreadable paths get no token and fall back to a plain per-call
  *     read — behavior, not just results, unchanged.
  *   - the token sees one directory level; mutating files INSIDE an
  *     existing subdirectory without touching the root or a direct
  *     child is invisible to it. The artifact stores never do that
  *     (appends create fresh batch-scoped subdirectories; compactions
  *     publish sibling versioned trees and bump the manifest; one-row
  *     artifacts are overwritten with fresh job-named files), and the
  *     single-writer operating contract forbids a probe racing a
  *     half-written append.
  */
object SchemaMemo {
  private final case class Entry(path: String, token: String, value: Any)

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  private def local(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      if (path.startsWith("file:")) new java.net.URI(path).getPath else path)

  /** Freshness token: root mtime (+ size for a plain file) and a fold
    * over direct children's names and mtimes. Throws → caller skips the
    * memo for this call. */
  private def token(path: String): String = {
    val p = local(path)
    val root = java.nio.file.Files.getLastModifiedTime(p).toMillis
    if (!java.nio.file.Files.isDirectory(p))
      s"f$root-${java.nio.file.Files.size(p)}"
    else {
      var acc = root
      var n = 0
      val s = java.nio.file.Files.list(p)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val c = it.next()
          acc = acc * 31 + c.getFileName.toString.hashCode +
            java.nio.file.Files.getLastModifiedTime(c).toMillis
          n += 1
        }
      } finally s.close()
      s"d$root-$n-$acc"
    }
  }

  private def fresh(path: String): Option[String] =
    try Some(token(path)) catch { case _: Throwable => None }

  /** The value memoized for `(path, kind)` at file state `tok`, or
    * `read` stored in its place. The token is taken BEFORE the read, so
    * a write racing the read can only leave an entry older than the
    * files, which the next call's token replaces. */
  private def cached[T](path: String, kind: String, tok: String)(read: => T): T = {
    val key = s"$kind\u0000$path"
    val hit = memo.get(key)
    if (hit != null && hit.token == tok) hit.value.asInstanceOf[T]
    else {
      val v = read
      memo.entrySet.removeIf(e =>
        try !java.nio.file.Files.exists(local(e.getValue.path))
        catch { case _: Throwable => true })
      memo.put(key, Entry(path, tok, v))
      v
    }
  }

  /** `read` evaluated once per file state of `path` — for one-row
    * artifacts that only writes change. `kind` names what is read, so
    * two readers of one path keep separate entries. */
  def once[T](path: String, kind: String)(read: => T): T =
    fresh(path) match {
      case None => read
      case Some(t) => cached(path, kind, t)(read)
    }

  /** Live entries whose path starts with `prefix` (specs pin the bound). */
  private[graft] def entriesUnder(prefix: String): Int = {
    var n = 0
    memo.values.forEach(e => if (e.path.startsWith(prefix)) n += 1)
    n
  }

  /** `spark.read.parquet(path)` with once-per-file-state schema
    * inference. `recursive` mirrors the stores' recursiveFileLookup
    * reads (flat tree + delta subdirectories). */
  def parquet(spark: SparkSession, path: String, recursive: Boolean = false): DataFrame = {
    def reader: DataFrameReader = {
      val r = spark.read
      if (recursive) r.option("recursiveFileLookup", "true") else r
    }
    fresh(path) match {
      case None => reader.parquet(path)
      case Some(t) =>
        reader.schema(cached(path, s"schema:$recursive", t)(reader.parquet(path).schema))
          .parquet(path)
    }
  }

  /** The partition directories `parts` (names like `col=v`) of the
    * partitioned tree `root`, read WITHOUT listing the rest of the tree:
    * only the named directories that exist are handed to Spark, with
    * `basePath` = `root` so the partition column stays a column (and a
    * filter on it stays a partition filter). The tree's directory names
    * and its schema — inferred from the requested directories, or from
    * any one directory when none of them exists — are memoized per file
    * state of `root`; no directory exists → zero rows of that schema. */
  def parquetPartitions(spark: SparkSession, root: String, parts: Seq[String]): DataFrame = {
    def layout: (StructType, Set[String]) = {
      val hp = new org.apache.hadoop.fs.Path(root)
      val names = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(hp).iterator
        .collect { case s if s.isDirectory => s.getPath.getName }
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .toSet
      val sample = parts.filter(names) match {
        case Seq() => names.headOption.toSeq
        case live => live
      }
      val schema =
        if (sample.isEmpty) spark.read.parquet(root).schema // empty tree: Spark's own verdict
        else spark.read.option("basePath", root).parquet(sample.map(p => s"$root/$p"): _*).schema
      (schema, names)
    }
    val (schema, names) = once(root, "partitions")(layout)
    val live = parts.filter(names)
    if (live.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", root)
      .parquet(live.map(p => s"$root/$p"): _*)
  }
}
