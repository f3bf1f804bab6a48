package graft.tools

/** Plan audit over EVERY declared query in one session: writes each
  * query's `explain("formatted")` to `<outDir>/<name>.txt` and prints a
  * one-line summary (parquet scans, exchanges, sort-merge vs broadcast
  * joins, codegen spans) — the r18 optimization round's "did a subtree get
  * duplicated / did a join strategy regress" sweep without one JVM per
  * query.
  *
  * Usage: runMain graft.tools.ExplainAll <outDir> [sfDir] [namePrefixFilter]
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val only = args.lift(2)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- graft.SparkEntry.allDefs if only.forall(q.name.startsWith)) {
      spark.catalog.clearCache()
      try {
        val df = q.spark(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, q.name + ".txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        def c(s: String) = s.r.findAllIn(plan).length
        println(f"[explainall] ${q.name}%-36s scans ${c("Scan parquet")}%3d  " +
          f"exch ${c("Exchange")}%3d  smj ${c("SortMergeJoin")}%2d  " +
          f"bhj ${c("BroadcastHashJoin")}%2d  cart ${c("CartesianProduct|BroadcastNestedLoop")}%2d  " +
          f"lines ${plan.linesIterator.length}%5d")
      } catch {
        case e: Throwable =>
          println(s"[explainall] ${q.name} FAILED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    spark.stop()
  }
}
