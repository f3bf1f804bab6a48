package graft

import java.util.concurrent.ConcurrentLinkedQueue

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpServer

import org.apache.spark.sql.functions._

import graft.queries.LiveQueries.{startStub, statusJson, StubCounters, StubDoc, StubModes}

/** Edge protocol behaviors of the live ES page loop (ADVICE r13):
  *
  *   - a real ES rejects over-window pages with "Result window is too
  *     large" (`index.max_result_window`, default 10k) rather than the
  *     circuit breaker's "Data too large" — BOTH must halve outside a
  *     widen cycle and enter the `search_after` drain inside one;
  *   - the widen cycle must never double past the window either: at
  *     [[graft.sources.EsHttpClient.MaxWidenSize]] it switches to the
  *     drain proactively (a doubled request would only be rejected);
  *   - exhaustion ("short page") compares the RAW `hits.hits` length to
  *     the requested size: a full page containing one `_source`-less hit
  *     must not read as short (that would end the window early and
  *     silently lose every older document).
  */
class EsPagingEdgeSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()

  /** A status doc at `timeMs`; a `sourceless` one's hit carries no
    * `_source` (stored-fields/_source-disabled responses).
    */
  private def doc(id: String, subject: String, timeMs: Long,
      sourceless: Boolean = false): StubDoc =
    StubDoc(id, subject, timeMs * 1000L, statusJson(id, subject, timeMs * 1000L, "v2.0", "{}"),
      sourceless = sourceless)

  /** The ES double over `docs` (no point-in-time API, so drains ride the
    * `_id` grammar), logging every `_search` body to `requests`.
    */
  private def serve(docs: Seq[StubDoc], requests: ConcurrentLinkedQueue[String],
      modes: StubModes = StubModes()): HttpServer =
    startStub(docs.toIndexedSeq, modes, StubCounters(requests = Some(requests)))

  private def liveDf(server: HttpServer, batchSize: Int) =
    spark.read.format("graft-status-live")
      .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
      .option("batchSize", batchSize.toString)
      .load()

  test("max_result_window rejection halves like the circuit breaker (no tie run)") {
    val docs = (0 until 30).map(i => doc(s"w$i", "s0", 1704000000000L + i * 1000L))
    val requests = new ConcurrentLinkedQueue[String]()
    val server = serve(docs, requests, StubModes(sizeCap = 8, windowError = true))
    try {
      val got = liveDf(server, batchSize = 64).where(col("subject") === "s0")
        .select("id").collect().map(_.getString(0)).toSet
      assert(got === docs.map(_.id).toSet)
      import scala.jdk.CollectionConverters._
      val sizes = requests.asScala.toSeq.map(mapper.readTree(_).path("size").asInt())
      assert(sizes.contains(64) && sizes.contains(8),
        s"window rejections must halve 64→32→16→8 like the breaker: $sizes")
    } finally server.stop(0)
  }

  test("max_result_window rejection MID-WIDEN enters the search_after drain (exactly-once)") {
    // 30 docs on one tied millisecond, window capped at 10: the widen
    // cycle (10 → 20) is REJECTED with the window error, not the breaker —
    // the drain must still engage and deliver all 30 exactly once
    val docs = (0 until 30).map(i => doc(f"t$i%03d", "s0", 1704000000000L))
    val requests = new ConcurrentLinkedQueue[String]()
    val server = serve(docs, requests, StubModes(sizeCap = 10, windowError = true))
    try {
      val got = liveDf(server, batchSize = 10).where(col("subject") === "s0")
        .select("id").collect().map(_.getString(0))
      assert(got.length === 30 && got.toSet === docs.map(_.id).toSet,
        s"the drain must deliver the tie exactly once (got ${got.length})")
      import scala.jdk.CollectionConverters._
      assert(requests.asScala.exists(b => {
        val n = mapper.readTree(b)
        n.path("sort").size() > 0 && n.path("sort").get(0).has("_id")
      }), "the _id-asc drain grammar must appear on the wire")
    } finally server.stop(0)
  }

  test("the widen cycle never doubles past MaxWidenSize — it drains instead") {
    // a tie run wider than ES's default window (12,000 docs on one
    // millisecond) against an UNCAPPED stub: a real ES would reject any
    // page above 10k, so the loop must stop doubling there and drain —
    // pinned by asserting no request ever exceeded MaxWidenSize
    val n = 12000
    val docs = (0 until n).map(i => doc(f"b$i%05d", "s0", 1704000000000L))
    val requests = new ConcurrentLinkedQueue[String]()
    val server = serve(docs, requests)
    try {
      val got = liveDf(server, batchSize = 500).where(col("subject") === "s0")
        .select("id").collect().map(_.getString(0))
      assert(got.length === n && got.toSet === docs.map(_.id).toSet,
        s"over-window tie run must survive exactly once (got ${got.length})")
      import scala.jdk.CollectionConverters._
      val sizes = requests.asScala.toSeq.map(mapper.readTree(_).path("size").asInt())
      assert(sizes.max <= graft.sources.EsHttpClient.MaxWidenSize,
        s"no request may exceed index.max_result_window: max=${sizes.max}")
      assert(requests.asScala.exists(b => {
        val nd = mapper.readTree(b)
        nd.path("sort").size() > 0 && nd.path("sort").get(0).has("_id")
      }), "the over-window tie must have drained via search_after")
    } finally server.stop(0)
  }

  test("a full page containing a _source-less hit is NOT a short page (raw-count exhaustion)") {
    // 20 timed docs + one sourceless hit landing inside the first page of
    // 5: post-filter counting would read 4 < 5 ⇒ "window exhausted" and
    // silently lose the 15 older docs. Raw counting keeps paging.
    val timed = (0 until 20).map(i => doc(f"s$i%02d", "s0", 1704000000000L + i * 1000L))
    val odd = doc("zz-nosource", "s0", 1704000000000L + 17500L, sourceless = true)
    val requests = new ConcurrentLinkedQueue[String]()
    val server = serve(timed :+ odd, requests)
    try {
      val got = liveDf(server, batchSize = 5).where(col("subject") === "s0")
        .select("id").collect().map(_.getString(0)).toSet
      assert(got === timed.map(_.id).toSet,
        s"every decodable doc must arrive despite the _source-less hit (got ${got.size} of 20)")
    } finally server.stop(0)
  }
}
