package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

/** VERDICT r18 Next #3: enumerate every `WindowExec` with NO partition
  * spec across every declared query — each one funnels its whole input
  * through a single task, which is a scale-killer if the input is
  * corpus-sized (fine if it is a tiny post-aggregate grid). Prints, per
  * hit, the query, the window expressions, and the subtree below it so
  * each can be pinned O(small) or given a partition key.
  *
  * Usage: runMain graft.tools.WindowAudit [sfDir] [namePrefixFilter]
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.lift(1)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    var hits = 0
    def audit(name: String, plan: SparkPlan): Unit = {
      def walk(p: SparkPlan): Unit = {
        p match {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            hits += 1
            val below = w.child.getClass.getSimpleName
            println(s"[windowaudit] $name UNPARTITIONED window over $below: " +
              w.windowExpression.map(_.sql).mkString("; ").take(160))
          case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
          case _ => ()
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
      walk(plan)
    }
    for (q <- graft.SparkEntry.allDefs if only.forall(q.name.startsWith)) {
      spark.catalog.clearCache()
      try audit(q.name, q.spark(spark, sfDir).queryExecution.executedPlan)
      catch {
        case e: Throwable =>
          println(s"[windowaudit] ${q.name} SKIP (${e.getClass.getSimpleName})")
      }
    }
    println(s"[windowaudit] total unpartitioned windows: $hits")
    spark.stop()
  }
}
