package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Measures the r8 group-sequential pushed-agg path over a SORTED layout
  * against the open-addressing hash fast path on the same data: with rows
  * arriving in token order, per-token aggregation needs one accumulator
  * set instead of an O(distinct-tokens) table. Time is the visible metric;
  * the structural one is state size — the sequential path's memory is
  * constant per partition no matter how many tokens a 100 TB shard holds.
  *
  * Usage: runMain graft.tools.SortedAggProbe [rowsPerShard] [groupsPerShard] [reps]
  */
object SortedAggProbe {
  def main(args: Array[String]): Unit = {
    val rowsPerShard = args.lift(0).map(_.toInt).getOrElse(2000000)
    val groupsPerShard = args.lift(1).map(_.toInt).getOrElse(50000)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val nShards = 8

    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    // token-ascending rows: the layout the graft-sharded writer produces
    val dir = Files.createTempDirectory("graft-sortedagg").toFile
    val rowsPerGroup = rowsPerShard / groupsPerShard
    (0 until nShards).foreach { s =>
      val f = new java.io.File(dir, s"shard=$s.csv")
      val w = new java.io.PrintWriter(new java.io.BufferedWriter(
        new java.io.FileWriter(f), 1 << 20))
      var g = 0
      while (g < groupsPerShard) {
        val token = s + g.toLong * nShards
        var i = 0
        while (i < rowsPerGroup) {
          w.println(s"$token,${1000L * i},sig_${i % 3},${i * 0.5}")
          i += 1
        }
        g += 1
      }
      w.close()
    }

    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = spark.read.format("graft-sharded").option("sorted", "true")
        .load(dir.getAbsolutePath)
        .groupBy("token_id")
        .agg(count(lit(1)).as("n"), min("ts_us").as("mn"), sum("v").as("sv"))
        .count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    println(s"store: $nShards shards x $rowsPerShard rows, $groupsPerShard groups/shard")
    for (seq <- Seq(true, false)) {
      System.setProperty("graft.sharded.sortedAggPath", seq.toString)
      val runs = (1 to reps).map(_ => once())
      println(f"sortedAggPath=$seq%-5s best-of-$reps ${runs.map(_._1).min}%.2f s  groups=${runs.head._2}")
    }
    System.setProperty("graft.sharded.sortedAggPath", "true")
    spark.stop()
  }
}
