package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Head-to-head timing of the pushed-aggregate reader's two paths on a
  * DENSE shard tier (r6 verdict "What's wrong" #1 / Next #6): the
  * primitive long-key fast path vs the generic boxed path, on the same
  * q181-shaped fragment — `groupBy(token_id).agg(count, min(ts_us))` over
  * the `graft-sharded` store. The generic path is forced via the
  * measurement-only `graft.sharded.aggFastPath=false` system property
  * (local mode: driver and executors share the JVM, so the property
  * reaches the readers).
  *
  * Usage: runMain graft.tools.AggPathProbe [nShards] [rowsPerShard] [tokensPerShard]
  */
object AggPathProbe {
  def main(args: Array[String]): Unit = {
    val nShards = args.lift(0).map(_.toInt).getOrElse(8)
    val rowsPerShard = args.lift(1).map(_.toInt).getOrElse(2000000)
    val tokensPerShard = args.lift(2).map(_.toInt).getOrElse(100000)

    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = Files.createTempDirectory("graft-aggprobe").toFile
    (0 until nShards).foreach { s =>
      val w = new java.io.PrintWriter(new java.io.BufferedWriter(
        new java.io.FileWriter(new java.io.File(dir, s"shard=$s.csv")), 1 << 20))
      var i = 0
      while (i < rowsPerShard) {
        val token = s + (i % tokensPerShard).toLong * nShards
        w.println(s"$token,${1000L * i},sig_${i % 3},${i * 0.5}")
        i += 1
      }
      w.close()
    }
    println(s"[aggprobe] layout: $nShards shards x $rowsPerShard rows, " +
      s"$tokensPerShard tokens/shard at $dir")

    def q() = spark.read.format("graft-sharded").load(dir.getAbsolutePath)
      .groupBy("token_id")
      .agg(count(lit(1)).as("n"), min(col("ts_us")).as("mn"))

    def timeIt(label: String): Double = {
      var best = Double.MaxValue
      for (_ <- 0 until 3) {
        val t0 = System.nanoTime()
        val n = q().count()
        val t = (System.nanoTime() - t0) / 1e9
        best = math.min(best, t)
        println(f"[aggprobe]   $label run: $t%6.2f s  groups=$n")
      }
      best
    }

    // verify the paths agree before timing them
    System.setProperty("graft.sharded.aggFastPath", "true")
    val fastRows = q().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    System.setProperty("graft.sharded.aggFastPath", "false")
    val slowRows = q().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    require(fastRows == slowRows, "paths disagree!")
    println(s"[aggprobe] paths agree on ${fastRows.length} groups")

    System.setProperty("graft.sharded.aggFastPath", "false")
    val tGeneric = timeIt("generic")
    System.setProperty("graft.sharded.aggFastPath", "true")
    val tFast = timeIt("fast")
    println(f"[aggprobe] generic=$tGeneric%6.2f s  fast=$tFast%6.2f s  speedup=${tGeneric / tFast}%5.2f x")
    spark.stop()
  }
}
