package graft.tools

/** Single-entry bench adjudicator: times the named entries in isolation
  * on `graft.Bench`'s session (`GraftSession.local` at `SPARK_GRAFT_CPUS`
  * cores, warmed the same way), N iterations with a
  * module-fresh cache per iteration, reporting wall + process-CPU per
  * run plus the min/median. This is the "profile it once on a provably
  * idle host" tool for adjudicating entries the driver's contended runs
  * keep flagging (round 18: q121_bloom_filter) — medians from five
  * byte-identical full-suite runs say one thing, a driver-class host
  * another, and the difference must be attributed to the host or the
  * plan, not guessed.
  *
  * Usage: [SPARK_GRAFT_SF_DIR=<sfDir>] runMain graft.tools.BenchOne [name[,name...]] [iters]
  *
  * Every name must be a declared entry (`SparkEntry.allDefs`); an unknown
  * name fails the run. The entries only `graft.Bench` runs
  * (`sync_e2e_8000docs`, `fuzz_*_seeded`, `calibration_*`) are not
  * declared entries, so BenchOne cannot time them.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q121_bloom_filter").split(",").toSet
    val iters = args.lift(1).map(_.toInt).getOrElse(6)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val defs = graft.SparkEntry.allDefs.filter(d => names(d.name))
    val unknown = names -- defs.map(_.name)
    require(unknown.isEmpty, s"not declared entries (SparkEntry.allDefs): " +
      s"${unknown.toSeq.sorted.mkString(", ")}; Bench-only entries (sync_e2e_8000docs, " +
      "fuzz_*_seeded, calibration_*) cannot be timed by BenchOne")
    val walls = scala.collection.mutable.Map[String, Vector[Double]]()
    for (i <- 1 to iters; q <- defs) {
      spark.catalog.clearCache()
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      q.spark(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      walls(q.name) = walls.getOrElse(q.name, Vector.empty) :+ wall
      println(f"[benchone] ${q.name}%-28s iter $i%2d: wall $wall%7.3f s  cpu $cpu%7.3f s")
    }
    walls.toSeq.sortBy(_._1).foreach { case (n, ws) =>
      val s = ws.sorted
      println(f"[benchone] $n%-28s min ${s.head}%.3f s  median ${s(s.size / 2)}%.3f s  " +
        f"max ${s.last}%.3f s over ${s.size} runs")
    }
    spark.stop()
  }
}
