package graft.tools

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{GranuleIndex, PartStats, ShardRowPredicate, ShardedPartitionReader, ShardedSignalSource}

/** Measures what the granule (mark) index buys on the layout MAINTENANCE
  * produces: a FINAL-compacted store — one-or-few large zstd parts per
  * shard, minmax spanning everything, bloom saturated. Pre-r10 this was
  * the worst-read store the engine could make: a point lookup parsed the
  * whole shard, and the compressed part could never split, so every full
  * read was one task per shard regardless of cluster size.
  *
  * Methodology: build a store through the V2 writer, `OPTIMIZE … FINAL`
  * it (granule indexes written), then copy the store and DELETE the
  * `.granules` sidecars — same bytes, same parts, same minmax/bloom, no
  * mark index — and run identical workloads against both:
  *
  *   1. point lookups (`shard = k AND token_id = t` through the DSv2
  *      scan): wall clock, plus the EXACT rows-parsed count via the
  *      reader's line counter;
  *   2. a full-store aggregation under `split=always`: planned partition
  *      count + wall clock (granule-aligned frame splits vs one task per
  *      compressed part).
  *
  * Usage: runMain graft.tools.GranuleProbe [tokens] [gens] [lookups]
  */
object GranuleProbe {
  def main(args: Array[String]): Unit = {
    val tokens = args.lift(0).map(_.toInt).getOrElse(400000)
    val gens = args.lift(1).map(_.toInt).getOrElse(20)
    val lookups = args.lift(2).map(_.toInt).getOrElse(16)

    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val schema = StructType(Seq(
      StructField("shard", IntegerType, nullable = false),
      StructField("token_id", LongType, nullable = true),
      StructField("ts_us", LongType, nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("v", DoubleType, nullable = true)))

    val root = Files.createTempDirectory("graft-granuleprobe").toFile
    val withIdx = new File(root, "with").getAbsolutePath
    val without = new File(root, "without").getAbsolutePath

    println(s"[granuleprobe] building store: $tokens tokens x $gens gens, 4 names, 8 shards")
    // noisy-but-deterministic ts/v so zstd ratios stay realistic (a
    // constant-stride fixture compresses 40x and every cost hides)
    val g = (col("id") / tokens).cast(LongType)
    val rows = spark.range(0L, tokens.toLong * gens).select(
      pmod(col("id") % tokens, lit(8L)).cast(IntegerType).as("shard"),
      (col("id") % tokens).cast(LongType).as("token_id"),
      (lit(1000000L) * g + pmod(col("id") * 48271L, lit(999983L))).as("ts_us"),
      concat(lit("sig_"), (g % 4).cast(StringType)).as("name"),
      (pmod(col("id") * 2654435761L, lit(1000000007L)).cast(DoubleType) / 1000.0).as("v"))
    rows.write.format("graft-sharded").option("codec", "zstd")
      .option("maxPartBytes", (16L << 20).toString)
      .mode("overwrite").save(withIdx)

    val t0 = System.nanoTime()
    graft.jobs.StoreOptimize.optimize(spark, withIdx, codec = "zstd", finalDedup = true)
    println(f"[granuleprobe] OPTIMIZE FINAL: ${(System.nanoTime() - t0) / 1e9}%.2f s")

    // the no-index twin: identical bytes minus the .granules sidecars
    def copyRec(src: File, dst: File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).getOrElse(Array.empty).foreach(f => copyRec(f, new File(dst, f.getName)))
      } else Files.copy(src.toPath, dst.toPath)
    }
    copyRec(new File(withIdx), new File(without))
    var stripped = 0
    def strip(d: File): Unit = Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory) strip(f)
      else if (f.getName.endsWith(".granules")) { f.delete(); stripped += 1 }
    }
    strip(new File(without))
    println(s"[granuleprobe] stripped $stripped granule sidecars from the twin")

    // store shape
    val parts = (0 until 8).flatMap { k =>
      ShardedSignalSource.activeParts(new File(withIdx, s"shard=$k"))
    }
    val totalRows = parts.flatMap(PartStats.read).map(_.rows).sum
    val totalBytes = parts.map(_.length()).sum
    val idxBytes = parts.map(p => GranuleIndex.granuleFor(p)).filter(_.isFile).map(_.length()).sum
    println(f"[granuleprobe] compacted: ${parts.size} parts, $totalRows rows, " +
      f"${totalBytes / 1e6}%.1f MB zstd, mark index ${idxBytes / 1e3}%.1f KB " +
      f"(${idxBytes * 100.0 / totalBytes}%.3f%% of data)")

    // 1. point lookups via the direct reader: EXACT rows parsed + the
    //    engine-side wall (decompress+parse cost, no Spark planning noise)
    val probeTokens = (0 until lookups).map(i => (i.toLong * 7919L) % tokens)
    def pointPass(dir: String, exactRanges: Boolean): (Long, Double) = {
      var n = 0L
      val t0p = System.nanoTime()
      probeTokens.foreach { t =>
        val shard = (t % 8).toInt
        val pred = ShardRowPredicate.Trivial.copy(tokenIn = Some(Set(t)))
        ShardedSignalSource.activeParts(new File(dir, s"shard=$shard")).foreach { p =>
          GranuleIndex.selectRanges(p, pred) match {
            case Some(rs) if exactRanges => rs.foreach { case (s, e) =>
              val r = new ShardedPartitionReader(p.getAbsolutePath, shard, schema, pred, s, e, exact = true)
              while (r.next()) ()
              n += r.linesRead; r.close()
            }
            case _ =>
              val r = new ShardedPartitionReader(p.getAbsolutePath, shard, schema, pred)
              while (r.next()) ()
              n += r.linesRead; r.close()
          }
        }
      }
      (n, (System.nanoTime() - t0p) / 1e9)
    }
    pointPass(withIdx, exactRanges = true); pointPass(without, exactRanges = false) // warm caches+JIT
    val (parsedWith, wallWith) = pointPass(withIdx, exactRanges = true)
    val (parsedWithout, wallWithout) = pointPass(without, exactRanges = false)
    println(f"[granuleprobe] point lookups x$lookups (reader): " +
      f"with-marks parsed=$parsedWith in $wallWith%.3f s; " +
      f"no-marks parsed=$parsedWithout in $wallWithout%.2f s " +
      f"(${parsedWith * 100.0 / parsedWithout.max(1)}%.2f%% of rows, ${wallWithout / wallWith}%.1fx wall)")

    // 2. wall clock through the DSv2 scan — dominated by per-query planning
    //    at this toy scale; reported for honesty, the reader wall above is
    //    the scan-cost signal
    def timePoints(dir: String): Double = {
      val t = System.nanoTime()
      probeTokens.foreach { tok =>
        spark.read.format("graft-sharded").load(dir)
          .where(col("shard") === (tok % 8).toInt && col("token_id") === tok)
          .select(col("name"), col("ts_us")).collect()
      }
      (System.nanoTime() - t) / 1e9
    }
    timePoints(withIdx); timePoints(without) // warm
    val wWith = timePoints(withIdx)
    val wWithout = timePoints(without)
    println(f"[granuleprobe] point lookups x$lookups (DSv2 e2e incl. planning): " +
      f"with-marks $wWith%.2f s, no-marks $wWithout%.2f s (${wWithout / wWith}%.1fx)")

    // 3. splittability of the compacted store: full aggregation, split=always
    def timeSplit(dir: String): (Int, Double) = {
      val df = spark.read.format("graft-sharded")
        .option("split", "always").option("splitBytes", (4L << 20).toString).load(dir)
        .select("token_id", "v")
      val n = df.rdd.getNumPartitions
      val t = System.nanoTime()
      df.agg(count(lit(1)), sum(col("v"))).collect()
      (n, (System.nanoTime() - t) / 1e9)
    }
    timeSplit(withIdx); timeSplit(without) // warm
    val (pWith, sWith) = timeSplit(withIdx)
    val (pWithout, sWithout) = timeSplit(without)
    println(f"[granuleprobe] full agg split=always(4MB): with-marks $pWith partitions " +
      f"$sWith%.2f s, no-marks $pWithout partitions $sWithout%.2f s (${sWithout / sWith}%.1fx)")

    // 4. compression-ratio cost of frame-per-granule: rewrite shard=0's
    //    content as ONE zstd frame (granuleRows = MaxValue) and compare
    //    bytes — the honest price of seekable offsets
    val d0 = new File(withIdx, "shard=0")
    val p0 = ShardedSignalSource.activeParts(d0)
    val framedBytes = p0.map(_.length()).sum
    val mono = graft.sources.PartStreamWriter.staged(d0, "part-probe-mono.csv.zst", "zstd",
      granuleRows = Int.MaxValue)
    p0.foreach { p =>
      val r = new ShardedPartitionReader(p.getAbsolutePath, 0, schema, ShardRowPredicate.Trivial)
      while (r.next()) mono.write(r.get())
      r.close()
    }
    mono.finishStaged()
    val monoFile = new File(d0, ".part-probe-mono.csv.zst.tmp")
    println(f"[granuleprobe] zstd ratio cost: frame-per-granule ${framedBytes / 1e6}%.2f MB vs " +
      f"single-frame ${monoFile.length() / 1e6}%.2f MB " +
      f"(+${(framedBytes - monoFile.length()) * 100.0 / monoFile.length()}%.1f%%)")
    mono.abandon()

    // 5. granule ts BANDS (r11): time-window pruning inside compacted
    //    parts. Band efficacy depends on time-locality WITHIN a token's
    //    run (ORDER BY (token, ts) gives each entity a contiguous,
    //    ts-sorted slice): long-history entities → granules inside a run
    //    carry narrow ts bands → a time window parses ~its fraction of
    //    rows. Separate store shape: few tokens × many generations (the
    //    telemetry store's real geometry — devices emit for months).
    // geometry matters: a granule must sit INSIDE one token's run for its
    // band to be narrow (band width ≈ granuleRows / rows-per-token of the
    // ts span). 8000 gens × 256-row granules → ~3% bands; at production
    // granularity (8192) the same ratio needs ~256k rows/entity — i.e.
    // bands pay off exactly on the long-history telemetry the store is for
    val bandDir = new File(root, "bands").getAbsolutePath
    val bTokens = 1000L; val bGens = 8000L
    println(s"[granuleprobe] band store: $bTokens tokens x $bGens gens")
    val bg = (col("id") / bTokens).cast(LongType)
    spark.range(0L, bTokens * bGens).select(
      pmod(col("id") % bTokens, lit(8L)).cast(IntegerType).as("shard"),
      (col("id") % bTokens).cast(LongType).as("token_id"),
      (lit(1000000L) * bg + pmod(col("id") * 48271L, lit(999983L))).as("ts_us"),
      concat(lit("sig_"), (bg % 4).cast(StringType)).as("name"),
      (pmod(col("id") * 2654435761L, lit(1000000007L)).cast(DoubleType) / 1000.0).as("v"))
      .write.format("graft-sharded").option("codec", "zstd")
      .option("maxPartBytes", (16L << 20).toString)
      .mode("overwrite").save(bandDir)
    graft.jobs.StoreOptimize.optimize(spark, bandDir, codec = "zstd", granuleRows = 256)
    val bParts = (0 until 8).flatMap { k =>
      ShardedSignalSource.activeParts(new File(bandDir, s"shard=$k"))
    }
    val bRows = bParts.flatMap(PartStats.read).map(_.rows).sum
    // a 5%-of-history window, mid-range: [47.5%, 52.5%) of the ts span
    val span = 1000000L * bGens
    val predWin = ShardRowPredicate.Trivial.copy(
      tsMin = Some((span * 95 / 200, true)), tsMax = Some((span * 105 / 200, false)))
    def windowPass(useBands: Boolean): (Long, Long, Double) = {
      var parsed = 0L; var hits = 0L
      val t = System.nanoTime()
      bParts.foreach { p =>
        val shard = 0
        (if (useBands) GranuleIndex.selectRanges(p, predWin) else None) match {
          case Some(rs) => rs.foreach { case (s, e) =>
            val r = new ShardedPartitionReader(p.getAbsolutePath, shard, schema, predWin, s, e, exact = true)
            while (r.next()) hits += 1
            parsed += r.linesRead; r.close()
          }
          case None =>
            val r = new ShardedPartitionReader(p.getAbsolutePath, shard, schema, predWin)
            while (r.next()) hits += 1
            parsed += r.linesRead; r.close()
        }
      }
      (hits, parsed, (System.nanoTime() - t) / 1e9)
    }
    windowPass(useBands = true); windowPass(useBands = false) // warm
    val (hB, pB, wB) = windowPass(useBands = true)
    val (hN, pN, wN) = windowPass(useBands = false)
    require(hB == hN, s"band selection changed results: $hB vs $hN")
    println(f"[granuleprobe] 5%%-window scan over $bRows compacted rows: " +
      f"bands parsed=$pB (${pB * 100.0 / bRows}%.2f%%) $wB%.3f s; " +
      f"no-bands parsed=$pN $wN%.2f s (${wN / wB}%.1fx wall)")

    spark.stop()
  }
}
