package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Measures what the per-part token BLOOM sidecar buys on the layout
  * epoch ingest actually produces: MANY parts per shard, each spanning
  * (roughly) the full token range, each containing only the tokens that
  * happened to report that epoch. Min/max ranges prune NOTHING on this
  * shape — every part straddles every probed token — so a point lookup
  * without the bloom reads every part; with it, only the parts that
  * plausibly CONTAIN the token.
  *
  * Methodology: build the store once through the V2 writer (one append
  * per epoch → one part per (epoch, shard), blooms written). Then copy
  * the store and strip the bloom field from every sidecar (min/max kept)
  * — same bytes, same stats, no skip index — and run the same point
  * lookups against both. Reports parts planned and wall-clock.
  *
  * Usage: runMain graft.tools.BloomProbe [epochs] [tokens] [reportRate‰] [lookups]
  */
object BloomProbe {
  def main(args: Array[String]): Unit = {
    val epochs = args.lift(0).map(_.toInt).getOrElse(64)
    val tokens = args.lift(1).map(_.toInt).getOrElse(20000)
    val ratePm = args.lift(2).map(_.toInt).getOrElse(50) // ‰ of tokens reporting per epoch
    val lookups = args.lift(3).map(_.toInt).getOrElse(8)

    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val schema = StructType(Seq(
      StructField("shard", IntegerType, nullable = false),
      StructField("token_id", LongType, nullable = true),
      StructField("ts_us", LongType, nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("v", DoubleType, nullable = true)))

    val dir = Files.createTempDirectory("graft-bloomprobe").toFile
    val withBloom = new java.io.File(dir, "with")
    // deterministic sparse reporting: token t reports in epoch e iff
    // mix(t, e) lands under the rate — every epoch spans the whole token
    // range (the adversarial shape for minmax) but holds only ~rate‰ of it
    def reports(t: Long, e: Int): Boolean = {
      var z = t * 0x9e3779b97f4a7c15L + e * 0xbf58476d1ce4e5b9L
      z ^= (z >>> 31); z *= 0x94d049bb133111ebL; z ^= (z >>> 29)
      math.floorMod(z, 1000L) < ratePm
    }
    (0 until epochs).foreach { e =>
      val rows = (0L until tokens.toLong).filter(reports(_, e))
        .map(t => Row((t % 8).toInt, t, 1000000L * e + t, "sig", 1.0))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
        .write.format("graft-sharded").mode("append").save(withBloom.getAbsolutePath)
    }

    // bloom-less twin: identical parts, sidecars truncated to 7 fields
    val noBloom = new java.io.File(dir, "without")
    def copyStrip(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty).foreach { f =>
        val d = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyStrip(f, d)
        else if (f.getName.endsWith(".minmax")) {
          val line = scala.io.Source.fromFile(f, "UTF-8").getLines().next()
          val stripped = line.split(",", -1).take(7).mkString(",")
          val w = new java.io.PrintWriter(d); w.println(stripped); w.close()
        } else java.nio.file.Files.copy(f.toPath, d.toPath)
      }
    }
    copyStrip(withBloom, noBloom)

    val partsPerShard = new java.io.File(withBloom, "shard=0").listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    println(s"[bloomprobe] $epochs epochs x 8 shards, $tokens tokens at $ratePm‰/epoch; " +
      s"$partsPerShard parts in shard 0")

    // interior tokens only: a boundary token (near global min/max) lets the
    // RANGE check prune and would overstate the bloom's contribution
    val probeTokens = (0 until lookups).map(i =>
      tokens / 10 + (i.toLong * 2654435761L) % (tokens * 8L / 10))

    def run(path: String, label: String): Double = {
      var best = Double.MaxValue
      for (r <- 0 until 3) {
        val t0 = System.nanoTime()
        var n = 0L
        var prunedSum = 0L
        probeTokens.foreach { t =>
          val q = spark.read.format("graft-sharded").load(path)
            .where(col("token_id") === t && col("shard") === (t % 8).toInt)
          n += q.count()
          if (r == 0) {
            val plan = q.queryExecution.executedPlan.toString
            prunedSum += "statsPrunedParts=(\\d+)".r.findFirstMatchIn(plan)
              .map(_.group(1).toLong).getOrElse(0L)
          }
        }
        if (r == 0) println(s"[bloomprobe]   $label: parts pruned " +
          s"$prunedSum of ${partsPerShard.toLong * probeTokens.length} across ${probeTokens.length} lookups")
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[bloomprobe]   $label run: $t%6.2f s (rows=$n)")
        best = math.min(best, t)
      }
      best
    }
    // correctness: identical counts on both stores
    val cWith = probeTokens.map(t => spark.read.format("graft-sharded")
      .load(withBloom.getAbsolutePath).where(col("token_id") === t).count()).sum
    val cWithout = probeTokens.map(t => spark.read.format("graft-sharded")
      .load(noBloom.getAbsolutePath).where(col("token_id") === t).count()).sum
    require(cWith == cWithout, s"stores disagree: $cWith vs $cWithout")
    println(s"[bloomprobe] stores agree: $cWith rows across ${probeTokens.length} lookups")

    val tNo = run(noBloom.getAbsolutePath, "no-bloom ")
    val tYes = run(withBloom.getAbsolutePath, "bloom    ")
    println(f"[bloomprobe] no-bloom=$tNo%6.2f s  bloom=$tYes%6.2f s  " +
      f"speedup=${tNo / tYes}%5.2f x")
    spark.stop()
  }
}
