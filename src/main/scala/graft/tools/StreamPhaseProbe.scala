package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Phase-level wall/CPU attribution for the streaming-restart bench
  * entries (q217/q223/q232 shape): seed collect, doc build, stub start,
  * each phase's stream START / processAllAvailable / STOP, and the final
  * read-back aggregate — VERDICT r18 Next #2's "profile what's left of
  * the two stream-start/checkpoint/stop cycles" answer. The declared
  * queries are untouched; this replays the q217 body with timers.
  *
  * Usage: runMain graft.tools.StreamPhaseProbe [iters]
  */
object StreamPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = args.lift(0).map(_.toInt).getOrElse(2)
    val slices = args.lift(1).map(_.toInt).getOrElse(1)
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    import graft.queries.LiveQueries.{startStub, statusJson, StubDoc}

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
        StubDoc(s"t$subj-$tsu-$i", subj, tsu,
          statusJson(s"t$i", subj, tsu, "v2.0", s"""{"cents":$cents}"""))
      }
      val (newer, older) = evs.toIndexedSeq.partition(_.getLong(1) / 1000 >= mid / 1000)
      val outDir = java.nio.file.Files
        .createTempDirectory("graft-probe-out").toString + "/tail"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-probe-ck").toString
      val docs1 = phase("mkDocs-older")(
        graft.queries.LiveQueries.parDocs(older, 0)(mkDoc))
      val docs2 = phase("mkDocs-all")(
        docs1 ++ graft.queries.LiveQueries.parDocs(newer, older.length)(mkDoc))
      def tailOnce(tag: String, docs: IndexedSeq[StubDoc]): Unit = {
        val server = phase(s"stub-start-$tag")(startStub(docs))
        try {
          val q = phase(s"stream-start-$tag") {
            val rs = spark.readStream.format("graft-status-live")
              .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
              .option("batchSize", "2000")
            (if (slices > 1) rs.option("slices", slices.toString) else rs).load()
              .select(col("subject"), expr("unix_micros(time)").as("tsu"),
                get_json_object(col("data"), "$.cents").cast(LongType).as("cents"))
              .writeStream.format("parquet")
              .option("path", outDir).option("checkpointLocation", ckpt)
              .start()
          }
          try phase(s"processAll-$tag")(q.processAllAvailable())
          finally phase(s"stream-stop-$tag")(q.stop())
          println(s"[phase] iter $iter batches-$tag: " +
            q.recentProgress.map(p => s"${p.batchId}:${p.numInputRows}rows").mkString(" "))
        } finally phase(s"stub-stop-$tag")(server.stop(0))
      }
      tailOnce("1", docs1)
      tailOnce("2", docs2)
      phase("final-agg-count") {
        spark.read.parquet(outDir)
          .groupBy(col("subject"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("cents")).as("cents"),
            min(col("tsu")).as("oldest_us"),
            max(col("tsu")).as("newest_us")).count()
      }
    }
    spark.stop()
  }
}
