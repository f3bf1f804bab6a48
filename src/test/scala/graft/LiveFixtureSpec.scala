package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Every temp directory a live gate entry makes has an owner: the seven
  * entries that write a sink, a stream output or a stream checkpoint
  * delete their directories before they return, and their result is
  * already materialized, so it still collects after the files are gone.
  */
class LiveFixtureSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def gateDirs(): Set[String] = {
    val listing = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft-q2")).toSet
    finally listing.close()
  }

  test("the sink and stream entries leave no temp directory behind") {
    val before = gateDirs()
    val names = Seq("q215_live_sync_e2e", "q217_live_stream_tail", "q218_live_sync_signals",
      "q223_live_ch_stream_tail", "q232_live_stream_es_to_ch", "q238_live_sync_ranged",
      "q240_live_sync_hot_discovery")
    for (name <- names) {
      val rows = SparkEntry.queries(name)(spark, sf).collect()
      assert(rows.nonEmpty, s"$name returned no rows")
      val left = gateDirs() -- before
      assert(left.isEmpty, s"$name left temp directories behind: $left")
    }
  }
}
