package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSessionHolder.spark

  /** Every node of an EXECUTED plan, descending through AQE wrappers and
    * query stages (whose `children` are Nil, so plain `collect` stops at
    * them).
    */
  def allExecNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => p +: allExecNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => p +: allExecNodes(q.plan)
    case other => other +: other.children.flatMap(allExecNodes)
  }

  /** The executed BatchScanExec whose description contains `marker`. */
  def findScan(df: org.apache.spark.sql.DataFrame, marker: String): org.apache.spark.sql.execution.SparkPlan =
    allExecNodes(df.queryExecution.executedPlan).find(n =>
      n.getClass.getSimpleName == "BatchScanExec" && n.toString.contains(marker))
      .getOrElse(sys.error(s"no BatchScanExec matching '$marker' in executed plan"))
}

object SparkSessionHolder {
  /** The suite's fixed core count (and shuffle partitions). */
  val Cores = 4
  lazy val spark: SparkSession = GraftSession.local(Cores)
}
