package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Phase-level wall/CPU attribution for the CH streaming-tail entry
  * (q223 shape): the two insertSignals loads, each phase's stream
  * start / processAllAvailable / stop, and the final read-back aggregate.
  * The q217/q232 twin is [[StreamPhaseProbe]].
  *
  * Usage: runMain graft.tools.ChStreamPhaseProbe [iters] [partitions]
  */
object ChStreamPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = args.lift(0).map(_.toInt).getOrElse(2)
    val partitions = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    import graft.sources.{ClickHouseDdl, ClickHouseHttpClient}

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
      val schema = StructType(Seq(
        StructField("token_id", LongType, nullable = false),
        StructField("timestamp", TimestampType, nullable = false),
        StructField("name", StringType, nullable = false),
        StructField("value_number", DoubleType, nullable = true),
        StructField("value_string", StringType, nullable = true)))
      val signals = graft.queries.Tables.load(spark, sfDir, "events")
        .where(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id").cast(LongType).as("token_id"),
          col("ts").cast(TimestampType).as("timestamp"),
          col("event_type").cast(StringType).as("name"),
          round(col("value") * 100).cast(DoubleType).as("value_number"),
          col("event_id").cast(StringType).as("value_string"))
      val bounds = phase("bounds-agg")(signals.agg(
        expr("min(unix_micros(timestamp))"), expr("max(unix_micros(timestamp))")).head())
      val midUs = (bounds.getLong(0) + bounds.getLong(1)) / 2
      val older = signals.where(expr(s"unix_micros(timestamp) < $midUs")).repartition(4)
      val newer = signals.where(expr(s"unix_micros(timestamp) >= $midUs")).repartition(4)
      val server = graft.queries.ChSignalStub.start()
      try {
        val url = s"http://127.0.0.1:${server.getAddress.getPort}"
        val client = new ClickHouseHttpClient(url)
        client.execute(ClickHouseDdl.signalTableDdl(schema))
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-chprobe-out").toString + "/tail"
        val ckpt = java.nio.file.Files.createTempDirectory("graft-chprobe-ck").toString
        def tailOnce(tag: String): Unit = {
          val q = phase(s"stream-start-$tag") {
            spark.readStream.format("graft-signal-live")
              .option("url", url).option("partitions", partitions.toString).load()
              .select(col("token_id"), expr("unix_micros(timestamp)").as("us"),
                col("value_number"))
              .writeStream.format("parquet")
              .option("path", outDir).option("checkpointLocation", ckpt)
              .start()
          }
          try phase(s"processAll-$tag")(q.processAllAvailable())
          finally phase(s"stream-stop-$tag")(q.stop())
        }
        phase("insert-older")(client.insertSignals(older, "signal",
          runTag = Some(ClickHouseHttpClient.jobRunTag("signal", "chprobe-older"))))
        tailOnce("1")
        phase("insert-newer")(client.insertSignals(newer, "signal",
          runTag = Some(ClickHouseHttpClient.jobRunTag("signal", "chprobe-newer"))))
        tailOnce("2")
        phase("final-agg-count") {
          spark.read.parquet(outDir)
            .groupBy(col("token_id"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("value_number")).cast(LongType).as("cents"),
              min(col("us")).as("oldest_us"),
              max(col("us")).as("newest_us")).count()
        }
      } finally server.stop(0)
    }
    spark.stop()
  }
}
