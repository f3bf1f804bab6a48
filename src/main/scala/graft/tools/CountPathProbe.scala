package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Measures the r8 newline-count path for pushed global `count(*)` against
  * the parsed-row path on the same store: a count needs no fields, so the
  * fast path never parses one — it scans 64 KB blocks for newlines. The
  * parsed path (countFastPath=false) pays the full byte-level field parse
  * per row.
  *
  * Usage: runMain graft.tools.CountPathProbe [rowsPerShard] [nShards] [reps]
  */
object CountPathProbe {
  def main(args: Array[String]): Unit = {
    val rowsPerShard = args.lift(0).map(_.toInt).getOrElse(2000000)
    val nShards = args.lift(1).map(_.toInt).getOrElse(8)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)

    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = Files.createTempDirectory("graft-cntprobe").toFile
    var bytes = 0L
    (0 until nShards).foreach { s =>
      val f = new java.io.File(dir, s"shard=$s.csv")
      val w = new java.io.PrintWriter(new java.io.BufferedWriter(
        new java.io.FileWriter(f), 1 << 20))
      var i = 0
      while (i < rowsPerShard) {
        w.println(s"${s + (i % 1000).toLong * nShards},${1000L * i},sig_${i % 3},${i * 0.5}")
        i += 1
      }
      w.close()
      bytes += f.length()
    }
    println(f"store: $nShards shards x $rowsPerShard rows, ${bytes / 1e6}%.0f MB")

    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = spark.read.format("graft-sharded").load(dir.getAbsolutePath)
        .agg(count(lit(1)).as("n")).collect()(0).getLong(0)
      ((System.nanoTime() - t0) / 1e9, n)
    }

    for (fast <- Seq(true, false)) {
      System.setProperty("graft.sharded.countFastPath", fast.toString)
      val runs = (1 to reps).map(_ => once())
      val best = runs.map(_._1).min
      println(f"countFastPath=$fast%-5s best-of-$reps ${best}%.2f s  n=${runs.head._2}")
    }
    System.setProperty("graft.sharded.countFastPath", "true")
    spark.stop()
  }
}
