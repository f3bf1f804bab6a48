package graft

import java.util.concurrent.ConcurrentLinkedQueue

import com.fasterxml.jackson.databind.ObjectMapper

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.LiveQueries.{startStub, StubCounters, StubModes}
import graft.sources.PaginationFuzz
import graft.sources.PaginationFuzz.{Base, FDoc}

/** Seeded fuzz of the wire pagination state machine
  * ([[graft.sources.EsHttpClient.pagedLines]]) against an in-memory
  * model — the boundary-overlap/`_id`-dedup/size-doubling/Data-too-large-
  * halving/`search_after`-drain interactions are the subtlest loop in the
  * live tier, so it gets the `StoreLifecycleFuzzSpec` treatment:
  * randomized corpora (tie runs wider than pages AND wider than the
  * server's cap, random windows, random size caps) checked for
  * exactly-once delivery, plus deterministic pins of the widen-floor
  * behavior (a halving may not undershoot a page size already proven
  * all-seen), the `search_after` tie drain (a tie run wider than the
  * largest servable page DRAINS by cursor instead of livelocking or
  * silently skipping like the reference, sync.go:151-155 [ext]) and the
  * untimed-tail stop. The campaign itself lives in main
  * ([[PaginationFuzz]]) so the bench ledger gates the same pinned seed.
  *
  * No SparkSession needed — the loop under test is plain JVM + loopback
  * HTTP.
  */
class EsPaginationFuzzSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** The ES double over `docs`, logging every `_search` body to `requests`. */
  private def serve(docs: Seq[FDoc], modes: StubModes,
      requests: ConcurrentLinkedQueue[String] = new ConcurrentLinkedQueue[String]()) =
    startStub(docs.map(_.stub).toIndexedSeq, modes, StubCounters(requests = Some(requests)))

  test("fuzz: exactly-once delivery under ties, windows, halving and tie drains (seeded)") {
    PaginationFuzz.run(seed = 20260815L, trials = 40)
  }

  test("fuzz: prefetch branches soak exactly-once at fuzz-scale pages (advice r18)") {
    // the production floor (64) sits above every fuzz page size, so the
    // drain-prefetch consume / stale-mismatch / halving-after-prefetch /
    // cancel-on-close branches were reachable only via the q220/q227
    // bench entries. Lower the floor through the test seam and run the
    // same adversarial campaign: exactly-once must hold with the
    // prefetch active on every continuing drain episode.
    System.setProperty("graft.es.prefetchMinPage", "1")
    try PaginationFuzz.run(seed = 20260819L, trials = 40)
    finally System.clearProperty("graft.es.prefetchMinPage")
  }

  test("fuzz: adversarial caps below the tie width drain COMPLETELY via search_after") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 15) {
      val nDocs = 20 + rnd.nextInt(120)
      val span = 1 + rnd.nextInt(4) // very wide tie runs
      val docs = (0 until nDocs).map { i =>
        val t = Base + rnd.nextInt(span) * 1000L
        FDoc(f"d$i%04d", Some(t), t)
      }
      val batch = 1 + rnd.nextInt(8)
      val cap = 1 + rnd.nextInt(12) // often far below the tie width
      val server = serve(docs, StubModes(sizeCap = cap))
      try {
        val got = PaginationFuzz.drain(server, batch, 0L, Base + 10000000L)
        assert(got.sorted === got.distinct.sorted, s"trial $trial: duplicates")
        assert(got.toSet === docs.map(_.id).toSet,
          s"trial $trial (cap=$cap batch=$batch): every drain must be complete " +
            s"(got ${got.size}/${docs.size})")
      } finally server.stop(0)
    }
  }

  test("a widen that fits under the cap drains on the primary protocol alone") {
    // 10 ties, batch 8, cap 20: the all-seen full page widens 8→16, the
    // server serves it (8 seen + 2 fresh, short ⇒ exhausted) — no
    // search_after needed, reference-shaped requests only
    val docs = (0 until 10).map(i => FDoc(f"t$i%02d", Some(Base), Base))
    val requests = new ConcurrentLinkedQueue[String]()
    val server = serve(docs, StubModes(sizeCap = 20), requests)
    try {
      val got = PaginationFuzz.drain(server, 8, 0L, Base + 1000L)
      assert(got.toSet === docs.map(_.id).toSet)
      import scala.jdk.CollectionConverters._
      assert(!requests.asScala.exists(_.contains("search_after")),
        "a widen that fits under the cap must drain on the primary protocol alone")
    } finally server.stop(0)
  }

  test("the FIRST over-cap failure mid-widen switches to the drain (no one-fresh-doc-per-page creep)") {
    // 10 ties, batch 8, cap 12: widen 8→16 trips the breaker. Clamping
    // back under the cap could only creep one fresh doc per re-served
    // full page; the loop must switch straight to the cursor drain —
    // bounded total traffic instead of O(tie²/cap) re-serves
    val docs = (0 until 10).map(i => FDoc(f"t$i%02d", Some(Base), Base))
    val requests = new ConcurrentLinkedQueue[String]()
    val server = serve(docs, StubModes(sizeCap = 12), requests)
    try {
      val got = PaginationFuzz.drain(server, 8, 0L, Base + 1000L)
      assert(got.toSet === docs.map(_.id).toSet)
      import scala.jdk.CollectionConverters._
      val bodies = requests.asScala.toSeq
      assert(bodies.exists(_.contains("search_after")),
        "the over-cap widen must fall back to the cursor drain")
      // total pages stay small: seed + all-seen + failed widen + ~2 drain
      // pages + empties — the creep would have taken ~10
      assert(bodies.length <= 8, s"page count must stay bounded, got ${bodies.length}")
    } finally server.stop(0)
  }

  test("a tie run wider than the largest servable page drains via search_after (the reference skips it silently)") {
    // 10 ties, cap 5: no servable _search page can ever reveal doc #6 on
    // the backward-paging protocol — the reference silently skips the run
    // (sync.go:151-155); the search_after drain must complete it, with
    // the drain requests carrying the declared grammar
    val docs = (0 until 10).map(i => FDoc(f"t$i%02d", Some(Base), Base))
    val requests = new ConcurrentLinkedQueue[String]()
    val server = serve(docs, StubModes(sizeCap = 5), requests)
    try {
      val got = PaginationFuzz.drain(server, 5, 0L, Base + 1000L)
      assert(got.toSet === docs.map(_.id).toSet, s"got ${got.size}/10")
      import scala.jdk.CollectionConverters._
      val drains = requests.asScala.toSeq.map(mapper.readTree)
        .filter(r => r.path("sort").size() > 0 && r.path("sort").get(0).has("_id"))
      assert(drains.nonEmpty, "the drain must actually use the search_after grammar")
      // every drain request windows EXACTLY the tied millisecond
      drains.foreach { r =>
        val range = r.path("query").path("bool").path("filter").get(0)
          .path("range").path("time")
        assert(range.path("gte").asText() === Base.toString)
        assert(range.path("lt").asText() === (Base + 1).toString)
        assert(r.path("sort").get(0).path("_id").asText() === "asc")
      }
      // cursors advance: all but the first drain request carry search_after
      assert(drains.count(_.has("search_after")) >= drains.size - 1)
    } finally server.stop(0)
  }

  test("sourceless hits inside an over-cap tie run: the drain cursor passes them, no loss, no pin") {
    // 12 ties (3 of them `_source`-less), cap 5: the drain pages by _id
    // and MUST advance its cursor by the RAW last hit — a post-filter
    // cursor would pin on a page ending in a sourceless hit and refetch
    // it forever; a post-filter drain-end check would end the drain early
    // and lose the decodable tail
    val docs = (0 until 12).map(i =>
      FDoc(f"t$i%02d", Some(Base), Base, sourceless = i % 4 == 3))
    val server = serve(docs, StubModes(sizeCap = 5))
    try {
      val got = PaginationFuzz.drain(server, 5, 0L, Base + 1000L)
      assert(got.toSet === docs.filterNot(_.sourceless).map(_.id).toSet,
        s"every decodable tie must drain exactly once: got ${got.size}/9")
      assert(got.sorted === got.distinct.sorted)
    } finally server.stop(0)
  }

  test("a sourceless hit atop the window at cap=1 triggers the FULL-WINDOW drain (found by soak)") {
    // cap=1, newest hit `_source`-less: no servable page can widen past
    // it and there is no boundary anchor (nothing decodable emitted in
    // this window block) — the loop must drain the WHOLE remaining window
    // by `_id` cursor, delivering every decodable doc exactly once.
    // Before the fix this lost everything below the sourceless hit
    // (fresh-seed soak trial, seed -2005648116133169935 trial 90).
    val docs = Seq(
      FDoc("top", Some(Base + 5000), Base + 5000, sourceless = true)) ++
      (0 until 7).map(i => FDoc(f"d$i%02d", Some(Base + i * 500L), Base + i * 500L))
    val requests = new ConcurrentLinkedQueue[String]()
    val server = serve(docs, StubModes(sizeCap = 1), requests)
    try {
      val got = PaginationFuzz.drain(server, 1, 0L, Base + 10000L)
      assert(got.toSet === docs.filterNot(_.sourceless).map(_.id).toSet,
        s"the full-window drain must deliver every decodable doc: got ${got.size}/7")
      assert(got.sorted === got.distinct.sorted, "exactly once")
      import scala.jdk.CollectionConverters._
      // the fallback really is the full-window id drain, not the tie form
      val drains = requests.asScala.toSeq.map(mapper.readTree)
        .filter(r => r.path("sort").size() > 0 && r.path("sort").get(0).has("_id"))
      assert(drains.nonEmpty)
      val fullWindow = drains.filter { r =>
        val range = r.path("query").path("bool").path("filter").get(0)
          .path("range").path("time")
        range.path("lt").asText().toLong - range.path("gte").asText().toLong > 1
      }
      assert(fullWindow.nonEmpty, "the unanchored fallback drains the whole window")
    } finally server.stop(0)
  }

  test("ES 8 posture: PIT offered, _id sort REJECTED — drains ride _shard_doc exactly-once") {
    // the stub issues point-in-time ids and 400s any _id-sort request
    // (no fielddata on _id — what a real ES 8 does), so completing the
    // over-cap tie PROVES the drain probed the PIT, sorted on _shard_doc,
    // and cursor-paged on the hit's own sort values
    val docs = (0 until 30).map(i => FDoc(f"p$i%02d", Some(Base), Base))
    val requests = new ConcurrentLinkedQueue[String]()
    val server = serve(docs, StubModes(sizeCap = 5, pitMode = true), requests)
    try {
      val got = PaginationFuzz.drain(server, 5, 0L, Base + 1000L)
      assert(got.toSet === docs.map(_.id).toSet, s"got ${got.size}/30")
      assert(got.sorted === got.distinct.sorted, "exactly once")
      import scala.jdk.CollectionConverters._
      val bodies = requests.asScala.toSeq.map(mapper.readTree)
      val pitReqs = bodies.filter(_.path("pit").path("id").isTextual)
      assert(pitReqs.nonEmpty, "the drain must have used the PIT grammar")
      pitReqs.foreach { r =>
        assert(r.path("sort").get(0).path("_shard_doc").asText() === "asc")
        assert(r.path("pit").path("keep_alive").asText() === "1m")
      }
      // cursors carry the hit's own sort values (numbers, not ids)
      assert(pitReqs.count(r => r.path("search_after").isArray &&
        r.path("search_after").get(0).isNumber) >= pitReqs.size - 1)
      assert(!bodies.exists(b => b.path("sort").size() > 0 &&
        b.path("sort").get(0).has("_id")),
        "with a PIT available the _id grammar must never be sent")
    } finally server.stop(0)
  }

  test("without PIT support (404) the drain falls back to the _id grammar") {
    val docs = (0 until 20).map(i => FDoc(f"q$i%02d", Some(Base), Base))
    val requests = new ConcurrentLinkedQueue[String]()
    val server = serve(docs, StubModes(sizeCap = 4, pitMode = false), requests)
    try {
      val got = PaginationFuzz.drain(server, 4, 0L, Base + 1000L)
      assert(got.toSet === docs.map(_.id).toSet)
      import scala.jdk.CollectionConverters._
      assert(requests.asScala.exists(_.contains("search_after")),
        "the fallback drain must still complete the tie")
      assert(!requests.asScala.exists(_.contains("_shard_doc")),
        "no PIT ⇒ no _shard_doc requests")
    } finally server.stop(0)
  }

  test("an untimed tail (malformed _source.time) stops the loop cleanly after its page") {
    // newest-first: 3 timed docs, then an untimed one, then 2 older timed
    // docs the loop can no longer reach (it cannot advance `stop` past a
    // doc it cannot time) — emit what arrived, stop, never spin
    val docs = Seq(
      FDoc("a1", Some(Base + 5000), Base + 5000),
      FDoc("a2", Some(Base + 4000), Base + 4000),
      FDoc("a3", Some(Base + 3000), Base + 3000),
      FDoc("bad", None, Base + 2000),
      FDoc("z1", Some(Base + 1000), Base + 1000),
      FDoc("z2", Some(Base), Base))
    val server = serve(docs, StubModes(sizeCap = 100))
    try {
      val got = PaginationFuzz.drain(server, 4, 0L, Base + 10000L)
      assert(got === Seq("a1", "a2", "a3", "bad"),
        "the page containing the untimed doc is emitted; the loop stops there")
    } finally server.stop(0)
  }
}
