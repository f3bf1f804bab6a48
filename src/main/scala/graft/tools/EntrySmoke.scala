package graft.tools

/** Replicates the driver's round-start smoke check: SparkEntry.entry must
  * return >0 rows on sf0.001. Run: `sbt "runMain graft.tools.EntrySmoke"`.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"entry rows: $n")
    assert(n > 0, "driver smoke would FAIL: entry returned 0 rows")
    spark.stop()
  }
}
