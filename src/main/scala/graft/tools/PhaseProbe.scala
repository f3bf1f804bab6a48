package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.jobs.{SyncJob, SyncOptions}
import graft.queries.ChSignalStub
import graft.queries.LiveQueries._
import graft.sources.{ClickHouseDdl, ClickHouseHttpClient, DeviceDim, SignalLiveSource, SignalSink}

/** Phase-level wall/CPU attribution for the live gate's multi-phase
  * entries — the "where does the wall go" answer BenchOne's single number
  * cannot give. Each mode replays one entry's fixture calls
  * ([[graft.queries.LiveQueries]]) with every call wrapped in the one
  * [[phase]] timer, which prints `[phase] iter N name wall cpu`:
  *
  *  - `sync` (q218): seed collect, corpus build, each sync round's stub
  *    start, plan and sink append, the serial wire floor, and the final
  *    aggregate;
  *  - `stream` (q217): each phase's stub start, stream start,
  *    processAllAvailable, stream stop and stub stop, and the final
  *    read-back aggregate; `[slices]` (default 1) sets the tail's
  *    parallel drain;
  *  - `chstream` (q223): the two inserts around each phase's stream start,
  *    processAllAvailable and stop, and the final read-back aggregate;
  *    `[partitions]` (default 4) sets the CH tail's read partitions.
  *
  * Usage: [SPARK_GRAFT_SF_DIR=<sfDir>] runMain graft.tools.PhaseProbe
  *   <sync|stream|chstream> [iters] [slices|partitions]
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("sync", "stream", "chstream")(mode),
      "usage: PhaseProbe <sync|stream|chstream> [iters] [slices|partitions]")
    val iters = args.lift(1).map(_.toInt).getOrElse(2)
    val width = args.lift(2).map(_.toInt)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    for (iter <- 1 to iters) {
      spark.catalog.clearCache()
      mode match {
        case "sync" => sync(spark, sfDir, iter)
        case "stream" => stream(spark, sfDir, iter, width.getOrElse(1))
        case _ => chStream(spark, sfDir, iter, width.getOrElse(4))
      }
    }
    spark.stop()
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs `f` and prints its wall and process CPU time as phase `name`. */
  private def phase[T](iter: Int, name: String)(f: => T): T = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = f
    val w = (System.nanoTime() - t0) / 1e9
    val c = (os.getProcessCpuTime - c0) / 1e9
    println(f"[phase] iter $iter $name%-28s wall $w%7.3f s  cpu $c%8.3f s")
    r
  }

  /** q218: two signal-filtered sync rounds into a sink. */
  private def sync(spark: SparkSession, sfDir: String, iter: Int): Unit = {
    val evs = phase(iter, "seed-collect")(seedRows(spark, sfDir))
    val (newer, older) = halves(evs, ms = true)
    val tokens = evs.map(_.getString(0)).distinct.sorted
    val dim = DeviceDim.identityDim(spark, tokens.map(_.toLong).sorted)
    val opts = SyncOptions(tokens = tokens,
      signalNames = Seq("Vehicle.Speed"),
      start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    val docs1 = phase(iter, "mkDocs-round1")(corpus(newer, SyncSignalsForm))
    val docs2 = phase(iter, "mkDocs-round2")(
      docs1 ++ corpus(older, SyncSignalsForm, newer.length))
    val modes = StubModes(requireSignalClauses = true)
    withTempDirs("probe-sink") { case Seq(dir) =>
      val sinkDir = dir.resolve("signals").toString
      withServer(phase(iter, "stub-start-1")(startStub(docs1, modes))) { url =>
        val out1 = phase(iter, "runLive-plan-1")(
          SyncJob.runLive(spark, url, dim, None, opts, batchSize = 2000))
        phase(iter, "append-1")(SignalSink.appendParquet(out1, sinkDir, buckets = 8))
      }
      withServer(phase(iter, "stub-start-2")(startStub(docs2, modes))) { url =>
        // engine-vs-test-double attribution: the SERIAL wire floor — page
        // the whole corpus straight through EsHttpClient with the sync
        // path's own signal projection, no Spark. This times stub serving
        // + HTTP + page parse on one thread; everything a sync phase
        // spends beyond (floor / achieved-parallelism) is engine work
        // (planning, staging, row decode, shuffle, sink write).
        val floorDocs = phase(iter, "wire-floor-serial-drain") {
          val rf = graft.schema.SignalDefinitions.requiredSourceFields(
            graft.schema.SignalDefinitions.resolve(Seq("Vehicle.Speed")))
          val src = new graft.sources.EsHttpClient(url)
            .pagedDocs("device-status", 2000, 0L, Long.MaxValue, None, rf)
          var n = 0L
          var doc = src.next()
          while (doc != null) { n += 1; doc = src.next() }
          src.close()
          n
        }
        println(s"[phase] iter $iter wire-floor docs: $floorDocs")
        val sink = phase(iter, "sink-read")(SignalSink.readParquet(spark, sinkDir))
        val out2 = phase(iter, "runLive-plan-2")(
          SyncJob.runLive(spark, url, dim, Some(sink), opts, batchSize = 2000))
        phase(iter, "append-2")(SignalSink.appendParquet(out2, sinkDir, buckets = 8))
      }
      phase(iter, "final-agg-count")(
        signalAggregate(SignalSink.readParquet(spark, sinkDir)).drop("newest_us").count())
    }
  }

  /** q217: a status-live stream tailed in two phases into parquet. */
  private def stream(spark: SparkSession, sfDir: String, iter: Int, slices: Int): Unit = {
    val evs = phase(iter, "seed-collect")(seedRows(spark, sfDir))
    val (newer, older) = halves(evs, ms = true)
    val docs1 = phase(iter, "mkDocs-older")(corpus(older, StreamTailForm))
    val docs2 = phase(iter, "mkDocs-all")(
      docs1 ++ corpus(newer, StreamTailForm, older.length))
    withTempDirs("probe-out", "probe-ck") { case Seq(out, ck) =>
      val outDir = out.toString + "/tail"
      def tailOnce(tag: String, docs: IndexedSeq[StubDoc]): Unit = {
        val server = phase(iter, s"stub-start-$tag")(startStub(docs))
        try {
          val q = phase(iter, s"stream-start-$tag") {
            val rs = spark.readStream.format("graft-status-live")
              .option("url", urlOf(server))
              .option("batchSize", "2000")
            (if (slices > 1) rs.option("slices", slices.toString) else rs).load()
              .select(col("subject"), expr("unix_micros(time)").as("tsu"),
                get_json_object(col("data"), "$.cents").cast(LongType).as("cents"))
              .writeStream.format("parquet")
              .option("path", outDir).option("checkpointLocation", ck.toString)
              .start()
          }
          try phase(iter, s"processAll-$tag")(q.processAllAvailable())
          finally phase(iter, s"stream-stop-$tag")(q.stop())
          println(s"[phase] iter $iter batches-$tag: " +
            q.recentProgress.map(p => s"${p.batchId}:${p.numInputRows}rows").mkString(" "))
        } finally phase(iter, s"stub-stop-$tag")(server.stop(0))
      }
      tailOnce("1", docs1)
      tailOnce("2", docs2)
      phase(iter, "final-agg-count") {
        spark.read.parquet(outDir)
          .groupBy(col("subject"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("cents")).as("cents"),
            min(col("tsu")).as("oldest_us"),
            max(col("tsu")).as("newest_us")).count()
      }
    }
  }

  /** q223: a ClickHouse stream tailed in two phases into parquet. */
  private def chStream(spark: SparkSession, sfDir: String, iter: Int, partitions: Int): Unit = {
    val (older, newer) = phase(iter, "bounds-agg")(signalHalves(chSignals(spark, sfDir)))
    withServer(ChSignalStub.start()) { url =>
      val client = new ClickHouseHttpClient(url)
      client.execute(ClickHouseDdl.signalTableDdl(SignalLiveSource.Schema))
      withTempDirs("probe-out", "probe-ck") { case Seq(out, ck) =>
        val outDir = out.toString + "/tail"
        def tailOnce(tag: String): Unit = {
          val q = phase(iter, s"stream-start-$tag") {
            spark.readStream.format("graft-signal-live")
              .option("url", url).option("partitions", partitions.toString).load()
              .select(col("token_id"), expr("unix_micros(timestamp)").as("us"),
                col("value_number"))
              .writeStream.format("parquet")
              .option("path", outDir).option("checkpointLocation", ck.toString)
              .start()
          }
          try phase(iter, s"processAll-$tag")(q.processAllAvailable())
          finally phase(iter, s"stream-stop-$tag")(q.stop())
        }
        phase(iter, "insert-older")(client.insertSignals(older, "signal",
          runTag = Some(ClickHouseHttpClient.jobRunTag("signal", "chprobe-older"))))
        tailOnce("1")
        phase(iter, "insert-newer")(client.insertSignals(newer, "signal",
          runTag = Some(ClickHouseHttpClient.jobRunTag("signal", "chprobe-newer"))))
        tailOnce("2")
        phase(iter, "final-agg-count") {
          spark.read.parquet(outDir)
            .groupBy(col("token_id"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("value_number")).cast(LongType).as("cents"),
              min(col("us")).as("oldest_us"),
              max(col("us")).as("newest_us")).count()
        }
      }
    }
  }
}
