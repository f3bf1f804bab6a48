package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.jobs.{SyncJob, SyncOptions}
import graft.queries.LiveQueries.{startStub, StubCounters, StubDoc}
import graft.sources.{DeviceDim, SignalSink}
import org.apache.spark.sql.functions._

/** Full-pipeline integration: DSv2 pushdown source → SyncJob → partitioned
  * parquet sink → second incremental run resuming from the sink's
  * watermarks. The storage-layout analog of the reference's ES→CH loop,
  * exercising every module together.
  */
class EndToEndSyncSpec extends SparkTestBase {

  private val t0 = Instant.parse("2024-03-01T00:00:00Z")
  private def iso(ms: Long) = Instant.ofEpochMilli(t0.toEpochMilli + ms).toString
  private def tAt(ms: Long) = new Timestamp(t0.toEpochMilli + ms)

  private def doc(subject: String, ms: Long, speed: Double) =
    s"""{"id":"e$ms","subject":"$subject","source":"it","specversion":"1.0","time":"${iso(ms)}","data":{"speed":$speed,"make":"m"}}"""

  test("two-round sync: first full, second resumes below the watermark") {
    val srcDir = Files.createTempDirectory("graft-e2e-src")
    val sinkDir = Files.createTempDirectory("graft-e2e-sink").resolve("signals").toString

    // Round 1 corpus: subjects 1,2 × timestamps 100..500ms step 100.
    Files.writeString(
      srcDir.resolve("part-0.ndjson"),
      (for (s <- Seq("1", "2"); ms <- 100L to 500L by 100L) yield doc(s, ms, ms.toDouble)).mkString("\n")
    )
    val docs = spark.read.format("graft-status").load(srcDir.toString)
      .select(col("subject"), col("source"), col("time"), col("data"))
    val dim = DeviceDim.identityDim(spark, 1L to 2L)

    val round1 = SyncJob.run(
      docs, dim, existingSink = None,
      SyncOptions(tokens = Seq("1", "2"), start = Some(tAt(0)), stop = Some(tAt(1000)))
    )
    SignalSink.appendParquet(round1, sinkDir, buckets = 4)
    val sink1 = SignalSink.readParquet(spark, sinkDir)
    assert(sink1.count() === 2L * 5 * 2) // 2 subjects × 5 ts × 2 signals

    // Round 2: older documents (backfill window) appear; resume must fetch
    // ONLY rows strictly below each token's oldest-synced timestamp.
    Files.writeString(
      srcDir.resolve("part-1.ndjson"),
      (for (s <- Seq("1", "2"); ms <- 0L until 100L by 50L) yield doc(s, ms, ms.toDouble)).mkString("\n")
    )
    val docs2 = spark.read.format("graft-status").load(srcDir.toString)
      .select(col("subject"), col("source"), col("time"), col("data"))
    val round2 = SyncJob.run(
      docs2, dim, existingSink = Some(sink1),
      SyncOptions(tokens = Seq("1", "2"), start = Some(tAt(0)), stop = Some(tAt(1000)))
    )
    // Watermark = 100ms per token ⇒ only the 0ms and 50ms docs qualify.
    assert(round2.count() === 2L * 2 * 2)
    assert(round2.agg(max(col("timestamp"))).head().getTimestamp(0) === tAt(50))

    SignalSink.appendParquet(round2, sinkDir, buckets = 4)
    val finalSink = SignalSink.readParquet(spark, sinkDir)
    assert(finalSink.count() === 28)
    // Partition layout: token buckets and day directories exist.
    val dirs = new java.io.File(sinkDir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("token_bucket=")))
    // Idempotence-ish: a third run against the final sink syncs nothing.
    val round3 = SyncJob.run(
      docs2, dim, existingSink = Some(finalSink),
      SyncOptions(tokens = Seq("1", "2"), start = Some(tAt(0)), stop = Some(tAt(1000)))
    )
    assert(round3.count() === 0)

    // The layout's reason to exist: a (token_bucket, day) filter PRUNES
    // partitions at the scan — the plan carries PartitionFilters and the
    // filtered read touches fewer files than the full read.
    val pruned = spark.read.parquet(sinkDir).where(col("token_bucket") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("token_bucket"), plan)
    assert(pruned.select(input_file_name()).distinct().count() <
      spark.read.parquet(sinkDir).select(input_file_name()).distinct().count())
  }

  /** [[doc]] as the ES double serves it. */
  private def stubDoc(subject: String, ms: Long, speed: Double) =
    StubDoc(s"e$ms-$subject", subject, (t0.toEpochMilli + ms) * 1000L, doc(subject, ms, speed))

  /** Round 1's corpus: subjects 1,2 × 100..500ms; round 2's adds the
    * older backfill docs at 0 and 50ms. Each round reads its own server,
    * as a cluster that gained documents between two syncs.
    */
  private val corpus1 = for (s <- Seq("1", "2"); ms <- 100L to 500L by 100L)
    yield stubDoc(s, ms, ms.toDouble)
  private val corpus2 = corpus1 ++
    (for (s <- Seq("1", "2"); ms <- 0L until 100L by 50L) yield stubDoc(s, ms, ms.toDouble))

  /** Runs `body` with the URL of the ES double over `docs`, which logs
    * every `_search` body to `requests`; stops the double after.
    */
  private def withStub[T](docs: Seq[StubDoc],
      requests: ConcurrentLinkedQueue[String] = new ConcurrentLinkedQueue[String]())(
      body: String => T): T = {
    val server = startStub(docs.toIndexedSeq, counters = StubCounters(requests = Some(requests)))
    try body(s"http://127.0.0.1:${server.getAddress.getPort}") finally server.stop(0)
  }

  test("runLive pushes per-token watermark stops INTO the request bodies (sync.go:96-100)") {
    // the r12 wire-bandwidth fix: round 2 must not re-download the full
    // window and filter in the plan — each subject's request window stops
    // at its oldest-synced watermark (the reference's per-token EndTime)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // the data pages, without the size-0 stats probes
    def dataBodies(requests: ConcurrentLinkedQueue[String]) =
      requests.asScala.toSeq.map(mapper.readTree).filter(_.path("size").asInt(-1) != 0)
    val sinkDir = Files.createTempDirectory("graft-e2e-runlive").resolve("signals").toString
    val dim = DeviceDim.identityDim(spark, 1L to 2L)
    val opts = SyncOptions(tokens = Seq("1", "2"),
      start = Some(tAt(0)), stop = Some(tAt(1000)))

    val requests1 = new ConcurrentLinkedQueue[String]()
    withStub(corpus1, requests1) { url =>
      val round1 = SyncJob.runLive(spark, url, dim, existingSink = None, opts, batchSize = 3)
      SignalSink.appendParquet(round1, sinkDir, buckets = 4)
    }
    val sink1 = SignalSink.readParquet(spark, sinkDir)
    assert(sink1.count() === 2L * 5 * 2)
    // the pushed subject census fans out per-subject requests
    assert(dataBodies(requests1).forall(b =>
      b.path("query").path("bool").path("filter").get(0)
        .path("match").path("subject").isObject),
      "every round-1 request is a per-subject loop (the pushed IN-set)")

    val requests2 = new ConcurrentLinkedQueue[String]()
    withStub(corpus2, requests2) { url =>
      val round2 = SyncJob.runLive(spark, url, dim, existingSink = Some(sink1), opts, batchSize = 3)
      assert(round2.count() === 2L * 2 * 2, "resume = only the backfill window")
    }
    // THE point: every round-2 request's exclusive stop is the token's
    // watermark (t0+100ms for both), never the global stop (t0+1000ms)
    val round2Bodies = dataBodies(requests2)
    assert(round2Bodies.nonEmpty)
    round2Bodies.foreach { b =>
      val lt = b.path("query").path("bool").path("filter").get(1)
        .path("range").path("time").path("lt").asText().toLong
      assert(lt === t0.toEpochMilli + 100,
        s"request window must stop at the watermark, got lt=$lt " +
          s"(global stop would be ${t0.toEpochMilli + 1000})")
    }
  }

  test("the same two-round sync OVER THE WIRE: live ES reads resume below the watermark (r11)") {
    // identical pipeline, live transport: a loopback `_search` stub serves
    // the corpus; SyncJob's per-token windows and subject set push into
    // the REQUEST BODIES (EsHttpClient's paged loop), and round 2's
    // backfill must fetch only below each token's watermark — the
    // reference's actual ES→CH loop, end to end, over HTTP
    val sinkDir = Files.createTempDirectory("graft-e2e-live").resolve("signals").toString
    def liveDocs(url: String) = spark.read.format("graft-status-live")
      .option("url", url)
      .option("batchSize", "3") // tiny pages: the paged loop is real
      .load()
      .select(col("subject"), col("source"), col("time"), col("data"))
    val dim = DeviceDim.identityDim(spark, 1L to 2L)
    val opts = SyncOptions(tokens = Seq("1", "2"), start = Some(tAt(0)), stop = Some(tAt(1000)))

    withStub(corpus1) { url =>
      val round1 = SyncJob.run(liveDocs(url), dim, existingSink = None, opts)
      SignalSink.appendParquet(round1, sinkDir, buckets = 4)
    }
    val sink1 = SignalSink.readParquet(spark, sinkDir)
    assert(sink1.count() === 2L * 5 * 2, "live round 1 = the full corpus")

    // backfill docs appear in the LIVE cluster; resume fetches only
    // below each token's oldest-synced timestamp
    withStub(corpus2) { url =>
      val round2 = SyncJob.run(liveDocs(url), dim, existingSink = Some(sink1), opts)
      assert(round2.count() === 2L * 2 * 2, "live resume = only the backfill window")
      assert(round2.agg(max(col("timestamp"))).head().getTimestamp(0) === tAt(50))
    }
  }
}
