package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec

/** The plan property exact-mode [[Profile.profile]] relies on since it
  * split into two column-pruned scans: each parquet scan reads only the
  * profiled source columns, and the distinct side (the join input that
  * holds the multi-distinct Expand) hashes — no SortAggregate and no Sort
  * over the expanded rows. */
object ProfilePlan extends AdaptiveSparkPlanHelper {

  /** What violates the property in `profiled`'s physical plan; empty when
    * it holds. `columns` are the source columns the profile reads. */
  def problems(profiled: DataFrame, columns: Set[String]): Seq[String] = {
    val plan = profiled.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    val scanProblems =
      (if (scans.size == 2) Nil else Seq(s"expected 2 scans, got ${scans.size}")) ++
        scans.map(_.requiredSchema.fieldNames.toSet).filterNot(_.subsetOf(columns))
          .map(cs => s"scan reads ${cs.mkString(", ")} beyond the profiled columns")
    val hasExpand = (p: SparkPlan) => find(p)(_.isInstanceOf[ExpandExec]).isDefined
    val distinctSide = collect(plan) {
      case j if j.children.size == 2 => j.children.filter(hasExpand)
    }.flatten.headOption
    val sideProblems = distinctSide match {
      case None => Seq("no join input holds the distinct Expand")
      case Some(side) =>
        collect(side) {
          case a: SortAggregateExec => s"SortAggregate on the distinct side: ${a.simpleString(200)}"
          case s: SortExec => s"Sort on the distinct side: ${s.simpleString(200)}"
        }
    }
    scanProblems ++ sideProblems
  }
}
