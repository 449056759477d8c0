package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Counts a physical plan's file scans by the paths their relations
  * read. Plan strings abbreviate a scan's location past
  * `spark.sql.maxMetadataStringLength` (100 characters), so counting
  * artifact names in `executedPlan.toString` passes or fails by the
  * length of the scratch path. Walks what the plan string prints:
  * children, subqueries, adaptive stages and cached relations. */
object ScanPaths {

  private def nodes(p: QueryPlan[_]): Iterator[QueryPlan[_]] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.innerChildren
    }
    Iterator.single(p) ++
      (p.children ++ inner).iterator.collect { case q: QueryPlan[_] => q }.flatMap(nodes)
  }

  /** Root paths of every file scan in `plan`. */
  def roots(plan: SparkPlan): Seq[Seq[Path]] =
    nodes(plan).collect { case s: FileSourceScanExec => s.relation.location.rootPaths }.toSeq

  /** Number of file scans reading under a directory named `artifact`
    * (or its versioned copy `artifact__vN`). */
  def count(plan: SparkPlan, artifact: String): Int = {
    val dir = s"$artifact(__v\\d+)?".r
    def under(p: Path): Boolean = p != null && (dir.matches(p.getName) || under(p.getParent))
    roots(plan).count(_.exists(under))
  }
}
