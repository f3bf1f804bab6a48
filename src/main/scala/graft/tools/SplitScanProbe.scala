package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Measures what within-shard byte-range splitting buys on the hot-shard
  * shape (r7 verdict Next #1): ONE oversized shard next to a few small
  * ones — the skew a hash-sharded store develops when one device dominates.
  * Without splitting, the whole big shard is one task and the scan's
  * wall-clock is that task; with `split=auto` the shard's part file fans
  * out into byte ranges and every core participates.
  *
  * The probed query aggregates with a NON-pushable aggregate (avg) over a
  * projection that drops `shard`, so the scan is a plain raw row stream —
  * the path whose parallelism was capped at NShards before r8.
  *
  * Usage: runMain graft.tools.SplitScanProbe [bigRows] [smallRows] [nSmall] [splitMB]
  */
object SplitScanProbe {
  def main(args: Array[String]): Unit = {
    val bigRows = args.lift(0).map(_.toInt).getOrElse(6000000)
    val smallRows = args.lift(1).map(_.toInt).getOrElse(200000)
    val nSmall = args.lift(2).map(_.toInt).getOrElse(7)
    val splitMB = args.lift(3).map(_.toInt).getOrElse(8)

    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = Files.createTempDirectory("graft-splitprobe").toFile
    def write(shard: Int, rows: Int): Long = {
      val f = new java.io.File(dir, s"shard=$shard.csv")
      val w = new java.io.PrintWriter(new java.io.BufferedWriter(
        new java.io.FileWriter(f), 1 << 20))
      var i = 0
      while (i < rows) {
        w.println(s"${shard + (i % 1000).toLong * 8},${1000L * i},sig_${i % 3},${i * 0.5}")
        i += 1
      }
      w.close()
      f.length()
    }
    val bigBytes = write(0, bigRows)
    (1 to nSmall).foreach(write(_, smallRows))
    println(f"[splitprobe] 1 hot shard of $bigRows rows (${bigBytes / 1e6}%.0f MB) + " +
      s"$nSmall small shards of $smallRows rows; splitBytes=${splitMB}MB")

    def q(mode: String) = spark.read.format("graft-sharded")
      .option("split", mode).option("splitBytes", (splitMB.toLong << 20).toString)
      .load(dir.getAbsolutePath)
      .select("token_id", "v") // shard pruned → auto-split eligible
      .agg(avg(col("v")).as("m"), count(lit(1)).as("n")) // avg: NOT pushable → raw row stream

    // correctness first: both modes must agree exactly
    val never = q("never").collect().head
    val auto = q("auto").collect().head
    require(never.getDouble(0) == auto.getDouble(0) && never.getLong(1) == auto.getLong(1),
      s"split modes disagree: $never vs $auto")
    println(s"[splitprobe] modes agree: n=${auto.getLong(1)} avg=${auto.getDouble(0)}")

    def timeIt(mode: String): Double = {
      var best = Double.MaxValue
      for (_ <- 0 until 3) {
        val t0 = System.nanoTime()
        q(mode).collect()
        val t = (System.nanoTime() - t0) / 1e9
        best = math.min(best, t)
        println(f"[splitprobe]   split=$mode run: $t%6.2f s")
      }
      best
    }
    val tNever = timeIt("never")
    val tAuto = timeIt("auto")
    println(f"[splitprobe] never=$tNever%6.2f s  auto=$tAuto%6.2f s  " +
      f"speedup=${tNever / tAuto}%5.2f x")
    spark.stop()
  }
}
