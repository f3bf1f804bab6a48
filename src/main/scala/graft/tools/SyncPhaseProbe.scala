package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Phase-level wall/CPU attribution for the live-sync e2e bench entries
  * (q215/q218 shape): seed collect, corpus build, stub start, each sync
  * round's staging + scan + sink append, and the final aggregate — the
  * "where does the wall go" answer BenchOne's single number cannot give.
  */
object SyncPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = args.lift(0).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    import graft.queries.LiveQueries.{startStub, statusJson, StubDoc, StubModes}
    import graft.jobs.{SyncJob, SyncOptions}
    import graft.sources.{DeviceDim, SignalSink}

    for (iter <- 1 to iters) {
      spark.catalog.clearCache()
      def phase[T](name: String)(f: => T): T = {
        val c0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        val r = f
        val w = (System.nanoTime() - t0) / 1e9
        val c = (os.getProcessCpuTime - c0) / 1e9
        println(f"[phase] iter $iter $name%-28s wall $w%7.3f s  cpu $c%8.3f s")
        r
      }
      val evs = phase("seed-collect") {
        graft.queries.Tables.load(spark, sfDir, "events")
          .where(col("ts").isNotNull && col("user_id").isNotNull)
          .select(col("user_id").cast("string").as("subject"),
            expr("unix_micros(ts)").as("tsu"),
            round(col("value") * 100).cast(LongType).as("cents"))
          .collect()
      }
      val mid = { val ts = evs.map(_.getLong(1)); (ts.min + ts.max) / 2 }
      def mkDoc(r: org.apache.spark.sql.Row, i: Int): StubDoc = {
          val (subj, tsu, cents) = (r.getString(0), r.getLong(1), r.getLong(2))
          StubDoc(s"g$subj-$tsu-$i", subj, tsu,
            statusJson(s"g$i", subj, tsu, "v1.0", s"""{"speed":$cents,"make":"m"}"""),
            signalJson = Some(statusJson(s"g$i", subj, tsu, "v1.0", s"""{"speed":$cents}""")))
      }
      val (newer, older) = evs.toIndexedSeq.partition(_.getLong(1) / 1000 >= mid / 1000)
      val tokens = evs.map(_.getString(0)).distinct.sorted
      val dim = DeviceDim.identityDim(spark, tokens.map(_.toLong).toSeq.sorted)
      val opts = SyncOptions(tokens = tokens.toSeq,
        signalNames = Seq("Vehicle.Speed"),
        start = Some(new java.sql.Timestamp(0L)),
        stop = Some(new java.sql.Timestamp(9999999999999L)))
      val sinkDir = java.nio.file.Files
        .createTempDirectory("graft-probe-sink").resolve("signals").toString
      val docs1 = phase("mkDocs-round1")(
        graft.queries.LiveQueries.parDocs(newer, 0)(mkDoc))
      val docs2 = phase("mkDocs-round2")(
        docs1 ++ graft.queries.LiveQueries.parDocs(older, newer.length)(mkDoc))

      val server1 = phase("stub-start-1")(startStub(docs1, StubModes(requireSignalClauses = true)))
      try {
        val out1 = phase("runLive-plan-1") {
          SyncJob.runLive(spark,
            s"http://127.0.0.1:${server1.getAddress.getPort}", dim, None, opts,
            batchSize = 2000)
        }
        phase("append-1")(SignalSink.appendParquet(out1, sinkDir, buckets = 8))
      } finally server1.stop(0)
      val server2 = phase("stub-start-2")(startStub(docs2, StubModes(requireSignalClauses = true)))
      try {
        // engine-vs-test-double attribution (VERDICT r18 Next #5): the
        // SERIAL wire floor — page the whole corpus straight through
        // EsHttpClient with the sync path's own signal projection, no
        // Spark. This times stub serving + HTTP + page parse on one
        // thread; everything a sync phase spends beyond (floor /
        // achieved-parallelism) is engine work (planning, staging,
        // row decode, shuffle, sink write).
        val floorDocs = phase("wire-floor-serial-drain") {
          val rf = graft.schema.SignalDefinitions.requiredSourceFields(
            graft.schema.SignalDefinitions.resolve(Seq("Vehicle.Speed")))
          val src = new graft.sources.EsHttpClient(
            s"http://127.0.0.1:${server2.getAddress.getPort}")
            .pagedDocs("device-status", 2000, 0L, Long.MaxValue, None, rf)
          var n = 0L
          var doc = src.next()
          while (doc != null) { n += 1; doc = src.next() }
          src.close()
          n
        }
        println(s"[phase] iter $iter wire-floor docs: $floorDocs")
        val sink = phase("sink-read")(SignalSink.readParquet(spark, sinkDir))
        val out2 = phase("runLive-plan-2") {
          SyncJob.runLive(spark,
            s"http://127.0.0.1:${server2.getAddress.getPort}", dim, Some(sink), opts,
            batchSize = 2000)
        }
        phase("append-2")(SignalSink.appendParquet(out2, sinkDir, buckets = 8))
      } finally server2.stop(0)
      phase("final-agg-count") {
        SignalSink.readParquet(spark, sinkDir)
          .groupBy(col("tokenId").as("token_id"))
          .agg(count(lit(1)).as("n_signals"),
            sum(col("valueNumber")).cast(LongType).as("speed_sum"),
            expr("min(unix_micros(timestamp))").as("oldest_us"))
          .count()
      }
    }
    spark.stop()
  }
}
