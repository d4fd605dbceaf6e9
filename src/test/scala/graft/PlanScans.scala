package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Which files a query reads, from its physical plan's file scans rather
  * than its plan string: the string cuts a location at
  * `spark.sql.maxMetadataStringLength`, so a path looked up there would be
  * found or not depending on its length.
  */
object PlanScans {

  private def local(p: String): String = new Path(p).toUri.getPath

  /** Root paths of every file scan in `df`'s physical plan, under AQE, its
    * query stages and subqueries too, without scheme.
    */
  def scanned(df: DataFrame): Seq[String] = {
    def scans(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(r => local(r.toString))
      case _ => (p.children ++ p.subqueries).flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
  }

  /** Whether `df` scans a file relation rooted at `path` or below it,
    * matched on whole path segments: `.../v1` does not match `.../v10`.
    */
  def reads(df: DataFrame, path: String): Boolean = {
    val root = local(path)
    scanned(df).exists(p => p == root || p.startsWith(root + "/"))
  }
}
