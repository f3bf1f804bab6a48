package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.{Duration, Instant}

import com.fasterxml.jackson.databind.JsonNode

/** LIVE Elasticsearch client over the JDK HTTP stack — the wire half of
  * the read seam [[EsQueryDsl]] is the request-body half of. Speaks the
  * exact protocol the reference speaks (elastic.go:46-108 [ext]):
  * `POST {base}/{index}/_search` with the query-DSL body, `hits.hits[].
  * _source` extracted per hit, non-200 and in-body `error` surfaced, and
  * the sync loop's two recovery behaviors reproduced:
  *
  *   - backward TIME paging (sync.go:108-124 [ext]): pages sort `time`
  *     DESC within [start, stop); after each page the NEXT stop is the
  *     last record's own timestamp — the loop walks history newest-first
  *     until a page comes back empty;
  *   - "Data too large" halving (sync.go:163-178 [ext]): a failed page
  *     retries at half the batch size down to 1 before giving up.
  *
  * Every response body is Jackson-parsed ONCE ([[searchTree]]); the
  * in-body error check and the hit extraction share the tree — per-page
  * executor CPU matters when a fleet of tasks drives page loops.
  *
  * No external dependency: `java.net.http.HttpClient` ships in the JDK,
  * so the client compiles and is spec-tested against a loopback stub
  * server — the zero-egress environment never opens a remote socket.
  * HTTPS endpoints get the TLS ≥ 1.2 floor via [[LiveHttp]] (the
  * reference's ClickHouse connection enforces the same floor,
  * clickhouse.go:41-47 [ext]).
  */
private[graft] final class EsHttpClient(baseUrl: String, timeoutMs: Long = 30000,
    wire: LiveWire = LiveWire.default) {

  import EsQueryDsl.mapper

  private val http = LiveHttp.newClient(timeoutMs, wire)

  /** IOException messages can be null (socket resets commonly are) — a
    * message probe must never NPE over the original transport error.
    */
  private def isDataTooLarge(e: java.io.IOException): Boolean =
    e.getMessage != null && e.getMessage.contains("Data too large")

  /** A page REJECTED FOR ITS SIZE, whichever way the server says it: the
    * circuit breaker's "Data too large" (the reference's halving trigger,
    * sync.go:163-178 [ext]) OR the `index.max_result_window` rejection a
    * real ES raises for an over-window request ("Result window is too
    * large", an `illegal_argument_exception` — default window 10,000).
    * Both mean the same thing to the loop: this size is unservable —
    * halve outside a widen cycle, switch to the `search_after` drain
    * inside one. Treating only the breaker message would turn a
    * production cluster's window rejection into a task failure in exactly
    * the tie-run case the drain exists for.
    */
  private def isPageTooLarge(e: java.io.IOException): Boolean =
    isDataTooLarge(e) ||
      (e.getMessage != null && e.getMessage.contains("Result window is too large"))

  /** `(raw hit count, last raw hit's _id, last raw hit's sort values,
    * decodable hits)` for one parsed response. The RAW count/cursors come
    * from the `hits.hits` array itself, independent of how many hits
    * yielded a usable `_source`: exhaustion ("short page") and drain-end
    * checks compare the raw count to the requested size, and the drain
    * cursor (the `_id` on the legacy form, the `sort` array on the PIT
    * form) advances past `_source`-less hits — otherwise one such hit
    * makes a full page read as short (ending the window early, silently
    * losing the remainder) or pins the cursor (re-fetching the same
    * drain page forever).
    */
  private def rawPageOf(root: JsonNode)
      : (Int, Option[String], Option[JsonNode], Vector[(String, Option[Long], JsonNode)]) = {
    val hits = root.path("hits").path("hits")
    val raw = if (hits.isArray) hits.size() else 0
    val lastId = if (raw > 0) Some(hits.get(raw - 1).path("_id").asText("")) else None
    val lastSort = if (raw > 0) Option(hits.get(raw - 1).get("sort")).filter(_.isArray)
      else None
    (raw, lastId, lastSort, timedHitsOf(root))
  }

  /** Transport-level retry: a search POST is idempotent, so both a
    * dropped connection (reset, empty response) AND a TRANSIENT overload
    * status retry — up to 4 attempts with exponential backoff, honoring
    * `Retry-After` when the server names a delay. Transient means
    * 429/502/503/504 EXCEPT the circuit breaker's own 429 ("Data too
    * large" — real ES serves CircuitBreakingException as 429): that one
    * is the HALVING/DRAIN trigger and must surface immediately — burning
    * four retries on a page the server just said is too big only delays
    * the recovery built for it. Other error statuses are not retried
    * (the semantic layer above decides).
    */
  private def sendWithRetry(req: HttpRequest): HttpResponse[Array[Byte]] = {
    var attempt = 0
    while (true) {
      try {
        val res = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
        val code = res.statusCode()
        val transient = (code == 429 || code == 502 || code == 503 || code == 504) && {
          val body = LiveHttp.bodyString(res)
          !(body.contains("Data too large") || body.contains("circuit_breaking_exception") ||
            body.contains("Result window is too large"))
        }
        if (!transient || attempt >= 4) return res
        val retryAfterMs = res.headers().firstValue("Retry-After").map[Long] { v =>
          try math.min(v.trim.toLong * 1000L, 15000L) catch { case _: NumberFormatException => 0L }
        }.orElse(0L)
        Thread.sleep(math.max(retryAfterMs, 25L << (attempt + 1)).min(15000L))
        attempt += 1
      } catch {
        case e: java.io.IOException =>
          if (attempt >= 4) throw e
          attempt += 1
          Thread.sleep(25L << attempt)
        case e: InterruptedException => throw e
      }
    }
    null // unreachable
  }

  /** One `_search` round trip, response parsed ONCE. Non-200 and
    * body-level `error` (ES reports shard failures at 200 sometimes)
    * raise with the body included — the reference's failure contract.
    */
  def searchTree(index: String, body: String): JsonNode =
    searchAt(s"$baseUrl/$index/_search", body)

  /** A PIT search posts to the BARE `_search` (the point-in-time id
    * names the index).
    */
  private def pitSearchTree(body: String): JsonNode = searchAt(s"$baseUrl/_search", body)

  private def searchAt(uri: String, body: String): JsonNode = {
    // gzip is always offered (pure wire-bytes win when the server's
    // http.compression is on) and the response sniffed either way
    val b = HttpRequest.newBuilder(URI.create(uri))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .header("Accept-Encoding", "gzip")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
    // the reference's client credentials (elastic.go:29-30 [ext])
    wire.basicAuth.foreach(b.header("Authorization", _))
    val res = sendWithRetry(b.build())
    if (res.statusCode() != 200)
      throw new java.io.IOException(
        s"failure status code ${res.statusCode()} from Elastic with body: " +
          LiveHttp.bodyString(res))
    val root = mapper.readTree(LiveHttp.bodyString(res))
    val err = root.get("error")
    if (err != null && !err.isNull)
      throw new java.io.IOException(
        s"failed to get records from elasticsearch: ${err.toString}")
    root
  }

  /** Open a point-in-time over the index — the drain/slice protocol on a
    * real ES 8 (`_shard_doc` needs one, and sorting on `_id` is rejected
    * without fielddata). Support is PROBED, never required — but the two
    * failure classes are DISTINCT: a server without the endpoint
    * (400/404/405 — older ES, a minimal stub) returns None and the
    * caller falls back to the `_id`-ascending drain / sequential loop;
    * a TRANSIENT failure (connection drop, 429/502/503/504) retries
    * through [[sendWithRetry]] like every other call and, if retries
    * exhaust, THROWS. A blip must surface as a task/planning failure —
    * swallowed into None it would silently decide "no PIT support",
    * which on a parallel sliced scan means lost or duplicated slices.
    */
  def openPit(index: String): Option[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"$baseUrl/$index/_pit?keep_alive=${wire.pitKeepAlive}"))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Accept-Encoding", "gzip")
      .POST(HttpRequest.BodyPublishers.noBody())
    wire.basicAuth.foreach(b.header("Authorization", _))
    val res = sendWithRetry(b.build())
    res.statusCode() match {
      case 200 =>
        val id = mapper.readTree(LiveHttp.bodyString(res)).path("id")
        if (id.isTextual) Some(id.asText()) else None
      case 400 | 404 | 405 => None // no PIT endpoint: the probed-absent answer
      case other => throw new java.io.IOException(
        s"failure status code $other opening point-in-time: ${LiveHttp.bodyString(res)}")
    }
  }

  /** Release a point-in-time (best-effort: an expired/unknown id is not
    * an error — the keep_alive reclaims it anyway).
    */
  def closePit(id: String): Unit =
    try {
      val body = mapper.createObjectNode()
      body.put("id", id)
      val b = HttpRequest.newBuilder(URI.create(s"$baseUrl/_pit"))
        .timeout(Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json")
        .method("DELETE", HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(body), StandardCharsets.UTF_8))
      wire.basicAuth.foreach(b.header("Authorization", _))
      http.send(b.build(), HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** `(_id, epoch-millis of _source.time, _source NODE)` per hit — the
    * document time is extracted HERE, while the hit is already a parsed
    * tree, so the page loop's boundary bookkeeping never re-parses a doc
    * (it needs the time up to three times per page), and the `_source`
    * rides on AS THE PARSED NODE: the shared decode consumes it directly
    * (the render→reparse detour it replaced measured 52% of per-doc
    * extract CPU). Absent/malformed `time` ⇒ None, matching the decode
    * path's null-time rule.
    */
  def timedHitsOf(root: JsonNode): Vector[(String, Option[Long], JsonNode)] = {
    val hits = root.path("hits").path("hits")
    if (!hits.isArray) return Vector.empty
    val out = Vector.newBuilder[(String, Option[Long], JsonNode)]
    hits.forEach { h =>
      val src = h.get("_source")
      val id = h.path("_id").asText("")
      if (src != null && src.isObject) {
        val t = src.get("time")
        val timeMs =
          if (t != null && t.isTextual)
            try Some(Instant.parse(t.asText()).toEpochMilli)
            catch { case scala.util.control.NonFatal(_) => None }
          else None
        out += ((id, timeMs, src))
      }
    }
    out.result()
  }

  /** Matching-document count for a pushed-filter state: a `size: 0`
    * search with `track_total_hits: true` whose `hits.total.value` is the
    * answer (the planning probe behind the live scan's reported
    * statistics). Anything short of an EXACT total — `relation` other
    * than `"eq"`, or a missing total — returns -1 (unknown): ES caps
    * totals at 10,000 by default, and an under-reported row count would
    * make the planner BROADCAST an arbitrarily large live scan (a wrong
    * small estimate causes the OOM it looks like it prevents).
    */
  def countFor(index: String, filters: Seq[org.apache.spark.sql.sources.Filter]): Long = {
    val body = EsQueryDsl.searchRequest(filters, Seq.empty, 0, trackTotalHits = true)
    val total = searchTree(index, body).path("hits").path("total")
    val exact = {
      val rel = total.path("relation")
      // pre-7.0 responses carry a bare numeric total (no relation) — that
      // form IS exact; 7+ must say "eq"
      total.isNumber || (rel.isTextual && rel.asText() == "eq")
    }
    val v = if (total.isNumber) total else total.path("value")
    if (exact && v.isNumber) v.asLong() else -1L
  }

  /** Per-key matching-document counts for a pushed-filter state: one
    * `size: 0` `terms` aggregation ([[EsQueryDsl.termsCountRequest]])
    * whose buckets answer `groupBy(field).count()` without paging a
    * single document. EXACT-ONLY, like [[countFor]]: anything short of a
    * provably complete result — `doc_count_error_upper_bound != 0` (shard
    * disagreement), `sum_other_doc_count != 0` (keys spilled past
    * `termsSize`), a missing aggregation, or a malformed bucket — returns
    * None and the caller row-scans instead. An approximate group count
    * shipped as truth is the grouped form of the under-reported-total bug
    * the r12 ADVICE flagged.
    */
  def groupCountsFor(index: String, filters: Seq[org.apache.spark.sql.sources.Filter],
      field: String, termsSize: Int): Option[Vector[(String, Long)]] = {
    val root = searchTree(index, EsQueryDsl.termsCountRequest(filters, field, termsSize))
    val agg = root.path("aggregations").path("group_counts")
    val err = agg.path("doc_count_error_upper_bound")
    val other = agg.path("sum_other_doc_count")
    val buckets = agg.path("buckets")
    if (!err.isNumber || err.asLong() != 0L || !other.isNumber || other.asLong() != 0L ||
      !buckets.isArray) return None
    val out = Vector.newBuilder[(String, Long)]
    var ok = true
    buckets.forEach { b =>
      val k = b.path("key")
      val n = b.path("doc_count")
      if (k.isTextual && n.isNumber) out += ((k.asText(), n.asLong()))
      else ok = false
    }
    if (ok) Some(out.result()) else None
  }

  /** `(docs.count, store.size_in_bytes)` from the index-stats API
    * (`GET {index}/_stats/docs,store`, primaries) — the sizing half of the
    * planner statistics probe: real stored bytes per document instead of a
    * guessed constant, at the cost of ZERO documents shipped (an index
    * stats call carries no hits, so wire-level served-doc pins stay
    * exact). None on any failure or an empty index — the caller falls
    * back to its conservative default.
    */
  def indexStats(index: String): Option[(Long, Long)] = {
    val b = HttpRequest.newBuilder(URI.create(s"$baseUrl/$index/_stats/docs,store"))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Accept-Encoding", "gzip")
      .GET()
    wire.basicAuth.foreach(b.header("Authorization", _))
    val res = sendWithRetry(b.build())
    if (res.statusCode() != 200) return None
    val prim = mapper.readTree(LiveHttp.bodyString(res)).path("_all").path("primaries")
    val docs = prim.path("docs").path("count")
    val bytes = prim.path("store").path("size_in_bytes")
    if (docs.isNumber && bytes.isNumber && docs.asLong() > 0L)
      Some((docs.asLong(), bytes.asLong()))
    else None
  }

  /** Time-quantile cut positions (epoch millis) for one pushed-filter
    * state — the PIT-less parallel drain's planning probe
    * ([[EsQueryDsl.timePercentilesRequest]]): `parts - 1` interior cuts
    * that tile the window into roughly equal-mass half-open sub-ranges.
    * None on any shortfall (no agg support, an empty window's null
    * values, fewer than 2 parts, any wire failure) — the caller keeps
    * the un-cut sequential plan, coarser but never wrong. Unlike
    * [[countFor]]/[[groupCountsFor]], APPROXIMATE values are acceptable:
    * a percentile estimate only places a window boundary, and half-open
    * tiles cover the window exactly wherever the boundaries land.
    */
  def timeCutsMs(index: String,
      filters: Seq[org.apache.spark.sql.sources.Filter], parts: Int): Option[Seq[Long]] = {
    if (parts < 2) return None
    val percents = (1 until parts).map(i => i * 100.0 / parts)
    try {
      val vals = searchTree(index, EsQueryDsl.timePercentilesRequest(filters, percents))
        .path("aggregations").path("time_cuts").path("values")
      if (!vals.isArray || vals.size() == 0) return None
      val out = Seq.newBuilder[Long]
      var ok = true
      vals.forEach { v =>
        val n = v.path("value")
        if (n.isNumber) out += n.asDouble().toLong else ok = false
      }
      if (ok) Some(out.result()) else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Batched [[timeCutsMs]] over the standard `_msearch` endpoint: ONE
    * round trip carries every hot subject's percentile probe (NDJSON
    * header/body pairs, [[EsQueryDsl.msearchBody]]) and `responses[i]`
    * aligns positionally — a mega-fleet hot-list's PIT-less planning
    * costs O(1) wire round trips instead of O(hot). Outer None — no
    * `_msearch` (404/405), any non-200, a response array that does not
    * align with the requests — sends the caller to per-request probes
    * (bounded-parallel there); an INDIVIDUAL slot's shortfall (an error
    * object, null values on an empty window) degrades to an empty cut
    * list, so only that subject keeps its sequential loop. Approximate
    * values are fine for the same reason as [[timeCutsMs]]: cuts place
    * window boundaries, never rows.
    */
  def timeCutsMsBatch(index: String, filtersPer: Seq[Seq[org.apache.spark.sql.sources.Filter]],
      parts: Int): Option[Seq[Seq[Long]]] = {
    if (parts < 2 || filtersPer.isEmpty) return None
    val percents = (1 until parts).map(i => i * 100.0 / parts)
    val body = EsQueryDsl.msearchBody(
      filtersPer.map(fs => EsQueryDsl.timePercentilesRequest(fs, percents)))
    try {
      val b = HttpRequest.newBuilder(URI.create(s"$baseUrl/$index/_msearch"))
        .timeout(Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/x-ndjson")
        .header("Accept-Encoding", "gzip")
        .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      wire.basicAuth.foreach(b.header("Authorization", _))
      val res = sendWithRetry(b.build())
      if (res.statusCode() != 200) return None
      val rs = mapper.readTree(LiveHttp.bodyString(res)).path("responses")
      if (!rs.isArray || rs.size() != filtersPer.size) return None
      val out = Seq.newBuilder[Seq[Long]]
      rs.forEach { r =>
        val vals = r.path("aggregations").path("time_cuts").path("values")
        val slot = Seq.newBuilder[Long]
        var ok = vals.isArray && vals.size() > 0
        if (ok) vals.forEach { v =>
          val n = v.path("value")
          if (n.isNumber) slot += n.asDouble().toLong else ok = false
        }
        out += (if (ok) slot.result() else Seq.empty)
      }
      Some(out.result())
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The index's newest event time in epoch millis (None when empty) —
    * [[EsQueryDsl.maxTimeRequest]] round trip; the streaming source's
    * latestOffset probe.
    */
  def maxTimeMs(index: String): Option[Long] = {
    val v = searchTree(index, EsQueryDsl.maxTimeRequest)
      .path("aggregations").path("max_time").path("value")
    if (v.isNumber) Some(v.asDouble().toLong) else None
  }

  /** The full backward-paging record stream for one subject — the
    * reference's per-token sync loop as a lazy [[DocSource]] (documents
    * emitted AS PARSED NODES — one parse per page, no re-serialization),
    * WITHOUT its
    * page-boundary skip: the reference sets the next window's exclusive
    * `lt` to the last record's timestamp, silently dropping any further
    * records sharing that exact timestamp (sync.go:151-155 [ext] — the
    * same structural bug the batch source's q12/q198 pagination already
    * fixed). Here the next window re-INCLUDES the boundary timestamp
    * (`lt = lastTs + 1`) and the ids already emitted at that timestamp
    * dedup the overlap; a tie run longer than a whole page doubles the
    * page size until it fits. Exactly-once, no loss, reference-shaped
    * requests.
    *
    * Doubling and Data-too-large interact through a WIDEN FLOOR: once a
    * full page of size s came back all-seen, every size ≤ s is proven
    * useless (halving back into it would livelock: halve → all-seen page
    * → double → halve …, and clamping to s+1 could only creep ONE fresh
    * doc per full re-served page). So the FIRST over-cap failure during a
    * widen cycle switches the loop to the `search_after` TIE DRAIN
    * pages of the tied millisecond in a server-supported total order,
    * cursor-exclusive, already-emitted ids skipped client-side — a tie
    * run wider than the largest servable page drains at any page size
    * ≥ 1 with no re-serve amplification, completing the protocol the
    * reference silently breaks (sync.go:151-155 [ext]). Each drain
    * episode PROBES for point-in-time support first
    * ([[openPit]]/[[EsQueryDsl.pitSearchAfterRequest]]): with a PIT the
    * order is `_shard_doc` ascending and the cursor is the last hit's
    * own `sort` values — the form a production ES 8 serves natively (it
    * REJECTS `_id` sorting without fielddata); without one the
    * `_id`-ascending form ([[EsQueryDsl.searchAfterRequest]]) is the
    * dependency-free fallback. After the drain the backward loop resumes
    * strictly below the tied millisecond. The drain is entered three
    * ways: a mid-widen size rejection (circuit breaker OR
    * `max_result_window`), or PROACTIVELY when the widen cycle reaches
    * [[EsHttpClient.MaxWidenSize]] — a real ES would reject the next
    * doubling anyway, so the loop switches at the size just proven
    * servable instead of paying a doomed round trip.
    *
    * CONTRACT — untimed documents: a hit whose `_source.time` is missing
    * or unparseable (index time and source time CAN diverge — the
    * pathology [[PaginationFuzz]] models) is emitted, but the loop cannot
    * set the next window's bound from it, so paging STOPS at an untimed
    * tail: documents older than the first untimed one in sort order are
    * not fetched. This is the deliberate lossy-input policy (fuzz-pinned):
    * "skipping" instead would need the window to advance past a document
    * whose position in time is unknowable from the response, and every
    * such scheme either re-serves the untimed run on each page
    * (unbounded-memory id ledger to dedup) or livelocks the widen/drain
    * machinery when a full window holds only untimed docs. Corollary for
    * the COUNT pushdown ([[StatusLiveScanBuilder.pushAggregation]]): the
    * server-side total counts every indexed match, so `count()` and a
    * collect-then-count agree only on corpora whose matching docs carry
    * well-formed `_source.time` — malformed-source corpora are out of the
    * probe's contract, documented there.
    */
  def pagedDocs(index: String, batchSize: Int, startMs: Long, stopMs: Long,
      subject: Option[String], requiredFields: Seq[String],
      envelopeIncludes: Seq[String] = Seq.empty): DocSource with WireCounters =
      new DocSource with WireCounters {
    override def skipped: Long = 0 // server JSON: nothing unparseable arrives
    import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThan}
    private var stop = stopMs
    private var size = batchSize
    // the widen ceiling: doubling past a real ES's index.max_result_window
    // would be rejected, not served — a widen cycle that reaches it enters
    // the search_after drain instead of buying a doomed round trip. A
    // batchSize configured above the default window is honored (the
    // operator raised the server's window too, or the breaker will say so).
    private val maxWiden = math.max(batchSize, EsHttpClient.MaxWidenSize)
    private var floorSize = 1 // halving may not go below this (widen floor)
    private var boundaryTs = Long.MinValue
    private var boundaryIds = Set.empty[String]
    private var page: Iterator[JsonNode] = Iterator.empty
    private var done = false
    private var draining = false
    // full-window drain (vs the one-millisecond tie drain): the fallback
    // when a widen cycle is blocked WITHOUT a boundary anchor — a run of
    // `_source`-less hits at the top of the window that the cap won't let
    // the loop widen past. Nothing below `stop` has been emitted yet
    // (emitted docs all sit at/above the previous boundary, and `stop`
    // excludes them), so an `_id`-ordered cursor drain of the whole
    // remaining [startMs, stop) window is exactly-once by construction
    // and terminates (the cursor strictly advances); at its end the
    // window is finished.
    private var drainWholeWindow = false
    private var drainCursor: Option[String] = None
    private var drainSize = 1
    // PIT drain state: every drain episode first PROBES for point-in-time
    // support (one POST through sendWithRetry — openPit retries transient
    // failures and THROWS on exhaustion; only a probed-absent endpoint
    // answers None). With a PIT the
    // drain sorts on `_shard_doc` — the order a real ES 8 serves natively
    // (it REJECTS `_id` sorting without fielddata) — and the cursor is
    // the last hit's own `sort` values; without one (older ES, minimal
    // stubs) the `_id`-ascending form is the dependency-free fallback.
    private var pitTried = false
    private var pitId: Option[String] = None
    private var pitAfter: Option[JsonNode] = None

    private def endPit(): Unit = {
      pitId.foreach(closePit)
      pitId = None
      pitAfter = None
      pitTried = false
    }
    // One-page drain PREFETCH (r18, guide §2.6): after a FULL drain page,
    // the next request is fully determined by already-updated state
    // (cursor, drainSize, window) — issue it on the shared daemon pool so
    // the server computes page N+1 while this task decodes and ships page
    // N (a ~200-round-trip tie drain is otherwise strictly
    // request-then-decode serial). The REQUEST SEQUENCE is byte-identical
    // to the serial loop's: a prefetch is issued only when the episode is
    // guaranteed to need exactly that page next (raw == drainSize keeps
    // the episode alive, and only fetchDrainPage mutates drain state), so
    // wire counters, served-doc pins, and exactly-once semantics are
    // untouched. At most ONE page is in flight per source.
    private var inFlight: Option[(String, String, java.util.concurrent.Future[JsonNode])] = None

    /** The CURRENT drain state's (uri, body) — shared by the synchronous
      * fetch and the prefetch so a consumed prefetch is provably the same
      * request the serial loop would have sent.
      */
    private def drainUriBody(): (String, String) = {
      val (lo, hi) =
        if (drainWholeWindow) (startMs, stop) else (boundaryTs, boundaryTs + 1)
      pitId match {
        case Some(id) => (s"$baseUrl/_search", EsQueryDsl.pitSearchAfterRequest(
          windowFilters(lo, hi), requiredFields, drainSize, id, pitAfter,
          envelopeIncludes, keepAlive = wire.pitKeepAlive))
        case None => (s"$baseUrl/$index/_search", EsQueryDsl.searchAfterRequest(
          windowFilters(lo, hi), requiredFields, drainSize, drainCursor,
          envelopeIncludes))
      }
    }

    private def issueDrainPrefetch(): Unit = {
      val (uri, body) = drainUriBody()
      val fut = EsHttpClient.prefetchPool.submit(
        new java.util.concurrent.Callable[JsonNode] {
          override def call(): JsonNode = searchAt(uri, body)
        })
      inFlight = Some((uri, body, fut))
    }
    private var pages = 0L
    private var docsShipped = 0L
    override def pagesFetched: Long = pages
    override def docsFetched: Long = docsShipped

    private def windowFilters(lo: Long, hi: Long): Seq[Filter] =
      subject.map(s => EqualTo("subject", s): Filter).toSeq ++
        Seq(GreaterThanOrEqual("time", lo): Filter, LessThan("time", hi): Filter)

    // one page at the CURRENT size, with the reference's Data-too-large
    // halving applied to this loop's own `size` — the exhaustion check
    // below must compare against the size actually requested, and against
    // the RAW hit count (a `_source`-less hit still occupied a slot). Each
    // decodable hit's time is parsed ONCE (timedHitsOf over the single
    // parsed tree) and carried — the boundary bookkeeping consults it up
    // to three times per doc.
    private def fetchPage(): (Int, Vector[(String, Option[Long], JsonNode)]) = {
      while (true) {
        try {
          val (raw, _, _, got) = rawPageOf(searchTree(index,
            EsQueryDsl.searchRequest(windowFilters(startMs, stop), requiredFields, size,
              envelopeIncludes = envelopeIncludes)))
          pages += 1
          docsShipped += raw
          return (raw, got)
        }
        catch {
          case e: java.io.IOException if floorSize == 1 && size > 1 && isPageTooLarge(e) =>
            // the reference halves and retries (sync.go:168-173) — on the
            // circuit breaker AND on a max_result_window rejection (both
            // mean "this size is unservable"). Plain halving applies only
            // OUTSIDE a tie-widen cycle (floorSize == 1): mid-widen, any
            // servable size ≤ the floor is already proven all-seen, so
            // halving could only creep one fresh doc per full page — the
            // error propagates instead and the caller switches to the
            // search_after drain, which pays no re-serve.
            size /= 2
        }
      }
      (0, Vector.empty) // unreachable
    }

    /** One `search_after` page of the tied millisecond; emits unseen ids
      * and ends the drain (resuming the backward loop below the tie) when
      * the cursor runs off the end. Its own Data-too-large halving can go
      * all the way to 1 — the cursor, not the page size, guarantees
      * progress here.
      */
    private def fetchDrainPage(): Unit = {
      if (!pitTried) {
        pitTried = true
        pitId = openPit(index) // one probe per drain episode; None ⇒ `_id` form
      }
      val (raw, lastId, lastSort, got) =
        try {
          val (uri, body) = drainUriBody()
          val tree = inFlight match {
            // the prefetched page IS this state's request (same uri+body
            // by construction); surface its failure exactly as the
            // synchronous send would
            case Some((u, b, fut)) if u == uri && b == body =>
              inFlight = None
              try fut.get()
              catch {
                case e: java.util.concurrent.ExecutionException => e.getCause match {
                  case io: java.io.IOException => throw io
                  case t: Throwable => throw t
                }
              }
            case stale =>
              // defensive: drain state can only be mutated by this method,
              // so a mismatch should not occur — never consume it anyway
              stale.foreach(_._3.cancel(true))
              inFlight = None
              searchAt(uri, body)
          }
          val t = rawPageOf(tree)
          pages += 1
          docsShipped += t._1
          t
        } catch {
          case e: java.io.IOException if drainSize > 1 && isPageTooLarge(e) =>
            drainSize = math.max(1, drainSize / 2)
            return
        }
      if (raw > 0) {
        // the cursor advances by the RAW last hit — a `_source`-less hit
        // must not pin the drain on the same page forever
        (pitId, lastSort) match {
          case (Some(_), Some(s)) => pitAfter = Some(s); drainCursor = lastId
          case (Some(_), None) =>
            // a server that opened a PIT but ships no sort values cannot
            // be cursor-paged on this form: abandon the PIT, restart this
            // drain on the `_id` grammar from the top (already-emitted
            // ids dedup the re-served prefix — exactly-once holds)
            endPit()
            pitTried = true
            drainCursor = None
          case (None, _) => drainCursor = lastId
        }
        val fresh = got.filterNot { case (id, _, _) => boundaryIds(id) }
        boundaryIds ++= fresh.iterator.map(_._1)
        page = fresh.iterator.map(_._3)
      }
      if (raw < drainSize) {
        endPit()
        if (drainWholeWindow) {
          // the cursor ran off the whole remaining window: finished
          done = true
          return
        }
        // cursor ran off the tie: resume the backward loop strictly below
        // the tied millisecond, bookkeeping reset (nothing older can share
        // the drained timestamp)
        draining = false
        stop = boundaryTs
        boundaryTs = Long.MinValue
        boundaryIds = Set.empty
        floorSize = 1
        size = batchSize
        if (stop <= startMs) done = true
      }
      // a FULL page keeps the episode alive and every input of the next
      // request is already final — overlap the server's page N+1 with
      // shipping page N. Only at/above the floor: the overlap's win
      // scales with page size (decode + ship time), while the thread
      // handoff is a fixed cost — at the fuzz harness's 1-10-doc pages
      // the handoff measurably exceeds the overlap.
      if (raw == drainSize && drainSize >= EsHttpClient.PrefetchMinPage &&
        draining && !done) issueDrainPrefetch()
    }

    private def fetchNormalPage(): Unit = {
      val (raw, docs) =
        try fetchPage()
        catch {
          case e: java.io.IOException if floorSize > 1 && isPageTooLarge(e) =>
            // over-cap tie run mid-widen: no servable page can widen past
            // it — drain the tied millisecond via the search_after cursor
            // instead (whether the server said "Data too large" or
            // "Result window is too large": both rejections are exactly
            // the case the drain exists for). The largest size PROVEN
            // servable is floorSize - 1 (that page came back full); start
            // the drain there. No boundary anchor (a widen cycle driven
            // entirely by `_source`-less hits — nothing decodable ever set
            // boundaryTs) ⇒ there is no tied millisecond, so drain the
            // WHOLE remaining window by `_id` cursor instead: nothing
            // below `stop` has been emitted yet, so it is exactly-once,
            // and the strictly-advancing cursor passes the undecodable
            // run no page size could widen past.
            draining = true
            drainWholeWindow = boundaryTs == Long.MinValue
            drainCursor = None
            drainSize = math.max(1, floorSize - 1)
            return
        }
      if (raw == 0) { done = true; return }
      // a SHORT page is the window's entire remainder: whatever survives
      // dedup is the final batch — no further round trip can find more
      // (without this, an exhausted window whose last page is all
      // boundary duplicates would double `size` forever). RAW count: a
      // `_source`-less hit still occupied a page slot, so a full page
      // with one is NOT the window's end.
      val exhausted = raw < size
      val fresh = docs.filterNot { case (id, t, _) =>
        t.contains(boundaryTs) && boundaryIds(id) }
      if (fresh.isEmpty) {
        if (exhausted) { done = true; return }
        if (size >= maxWiden) {
          // the widen cap: a real ES rejects pages above
          // index.max_result_window rather than serving them, so doubling
          // past the cap only buys a round trip that fails — enter the
          // drain NOW at the size just proven servable (this full page).
          // Unanchored (all-`_source`-less widen run) ⇒ no tied
          // millisecond exists: drain the whole remaining window by `_id`
          // cursor (exactly-once — nothing below `stop` emitted yet).
          draining = true
          drainWholeWindow = boundaryTs == Long.MinValue
          drainCursor = None
          drainSize = size
        } else {
          // a FULL page of already-seen ties: widen until it fits. Any
          // page ≤ the current size is now proven useless — floor above it.
          floorSize = size + 1
          size = math.min(size * 2, maxWiden)
        }
      } else {
        floorSize = 1 // progress: halving is unrestricted again
        if (exhausted) done = true
        else fresh.last._2 match {
          case Some(lastT) =>
            val idsAtLast = fresh.iterator
              .filter { case (_, t, _) => t.contains(lastT) }
              .map(_._1).toSet
            if (lastT == boundaryTs) boundaryIds ++= idsAtLast
            else { boundaryTs = lastT; boundaryIds = idsAtLast }
            stop = lastT + 1 // re-include the boundary ts next page
          case None => done = true // cannot advance past an untimed tail
        }
        page = fresh.iterator.map(_._3)
      }
    }

    override def next(): JsonNode = {
      while (!page.hasNext && !done) {
        if (draining) fetchDrainPage() else fetchNormalPage()
      }
      if (page.hasNext) page.next() else null
    }
    override def close(): Unit = {
      // abandoned mid-drain: drop the in-flight prefetch, release the PIT
      inFlight.foreach(_._3.cancel(true))
      inFlight = None
      endPit()
    }
  }

  /** One SLICE of a parallel scan — the scale path for a live read the
    * backward-paging loop would serve as ONE sequential task: the
    * unfiltered whole-index drain, or one HOT subject's deep history
    * (`subject` set — the slice composes with the per-subject match
    * clause natively; the reference's loops are per-token and
    * sequential, sync.go:60-84 [ext]). ES's sliced search partitions a
    * point-in-time's documents into `sliceMax` DISJOINT subsets
    * server-side (`slice: {id, max}` + `sort: _shard_doc` +
    * `search_after` — the protocol a production ES 8 serves natively);
    * N Spark partitions each drain their own slice concurrently.
    *
    * `pitId` is the snapshot the PLANNER opened — ONCE, shared by every
    * slice of the scan. Slices are defined against a single
    * point-in-time: per-task PITs would snapshot N different moments,
    * and under concurrent indexing a document arriving between two opens
    * is visible to some slices and not others — exactly the torn
    * parallel read slicing exists to avoid. For the same reason NO task
    * closes the PIT (a sibling slice may still be draining): release is
    * the DRIVER's — the scan's query-end hook best-effort DELETEs it
    * once the action completes ([[StatusLiveScan]]), with the
    * keep_alive (`pitKeepAlive` wire option, default 1m, refreshed by
    * every request) as the server-side backstop for plans that never
    * execute or streams whose events bypass the listener bus.
    *
    * Exactly-once within a slice is the cursor's (strictly advancing
    * `_shard_doc` order); across slices it is the server's disjointness
    * guarantee over the shared snapshot. Page-size rejections halve like
    * everywhere else (`isPageTooLarge`); the cursor — not the page size
    * — guarantees progress, so halving may go to 1. Exhaustion compares
    * the RAW hit count (a `_source`-less hit must not end the slice
    * early). Any other failure propagates: a sliced task must fail
    * loudly, never emit a partial slice.
    */
  def slicedDocs(index: String, batchSize: Int, startMs: Long, stopMs: Long,
      sliceId: Int, sliceMax: Int, requiredFields: Seq[String],
      envelopeIncludes: Seq[String], pitId: String,
      subject: Option[String] = None): DocSource with WireCounters =
    new DocSource with WireCounters {
      import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThan}
      override def skipped: Long = 0
      private var after: Option[JsonNode] = None
      private var size = batchSize
      private var page: Iterator[JsonNode] = Iterator.empty
      private var done = false
      private var pages = 0L
      private var docsShipped = 0L
      override def pagesFetched: Long = pages
      override def docsFetched: Long = docsShipped
      private val filters: Seq[Filter] =
        subject.map(s => EqualTo("subject", s): Filter).toSeq ++ Seq(
          GreaterThanOrEqual("time", startMs): Filter, LessThan("time", stopMs): Filter)

      // NO prefetch here, deliberately (r18): the drain loop's one-page
      // prefetch was A/B'd on this path too and measured a LOSS (q234
      // 1.00 → 1.32 s min) — slices already run in parallel, so the
      // server is saturated and extra in-flight pages only add
      // contention. §2.6's overlap pays only where execution was serial.
      private def fetchPage(): Unit =
        try {
          val (raw, _, lastSort, got) = rawPageOf(pitSearchTree(
            EsQueryDsl.pitSearchAfterRequest(filters, requiredFields, size, pitId,
              after, envelopeIncludes, slice = Some((sliceId, sliceMax)),
              keepAlive = wire.pitKeepAlive)))
          pages += 1
          docsShipped += raw
          after = lastSort
          // raw count decides exhaustion; a sort-less tail (a server
          // that stopped returning cursors) must also end the slice
          // rather than loop on a pinned cursor
          if (raw < size || lastSort.isEmpty) done = true
          page = got.iterator.map(_._3)
        } catch {
          case e: java.io.IOException if size > 1 && isPageTooLarge(e) =>
            size = math.max(1, size / 2)
          case e: java.io.IOException
              if Option(e.getMessage).exists(_.contains("search_context_missing")) =>
            // the shared snapshot is gone — expired keep-alive (task
            // scheduling lagged planning), or a RE-EXECUTION of a cached
            // physical plan whose PIT the query-end release hook already
            // closed. No task-side recovery is sound (a fresh per-task
            // PIT tears the parallel read), so fail with the remedy.
            throw new java.io.IOException(
              "the sliced scan's shared point-in-time is gone (keep-alive expired before this " +
                "task ran, or the plan was re-executed after its query-end PIT release) — " +
                "re-run the action as a FRESH read (a new plan opens a new snapshot), and raise " +
                "the pitKeepAlive option if planning-to-execution lag can exceed it", e)
        }

      override def next(): JsonNode = {
        while (!page.hasNext && !done) fetchPage()
        if (page.hasNext) page.next() else null
      }
      override def close(): Unit = () // the SHARED pit outlives this slice (see scaladoc)
    }
}

private[graft] object EsHttpClient {
  /** Shared daemon pool for the drain's one-page prefetch: each DocSource
    * keeps at most ONE page in flight, so the pool's live thread count is
    * bounded by concurrently-draining tasks (cached pool, 60 s idle
    * reap). Daemon threads: an abandoned prefetch must never pin the JVM.
    */
  private val prefetchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "es-drain-prefetch")
          t.setDaemon(true)
          t
        }
      })

  /** Elasticsearch's default `index.max_result_window`: a `from + size`
    * above it is REJECTED ("Result window is too large"), not served — so
    * this is the widen cycle's ceiling: at it, the loop switches to the
    * `search_after` drain (which a real ES serves at any depth) instead
    * of doubling into a guaranteed rejection.
    */
  val MaxWidenSize: Int = 10000

  /** Smallest drain page worth prefetching: below this the fixed thread
    * handoff exceeds the decode/ship overlap the prefetch buys (measured
    * on the fuzz harness's 1-10-doc pages); production drain pages are
    * hundreds of docs and sit far above it.
    *
    * TEST SEAM (advice r18): `-Dgraft.es.prefetchMinPage=1` lowers the
    * floor so the pagination fuzz campaign soaks the prefetch branches
    * (consume, stale-mismatch re-issue, halving-after-prefetch,
    * cancel-on-close) at its 1-16-doc pages — without it the adversarial
    * exactly-once machinery never crosses the production floor. Safe to
    * flip globally: a prefetch fires only when the next request is fully
    * determined and provably coming (a FULL page cannot end an episode),
    * so the wire request sequence — and every served-doc pin — is
    * byte-identical either way.
    */
  def PrefetchMinPage: Int = Integer.getInteger("graft.es.prefetchMinPage", 64)

  /** Default `terms` size for the grouped-count probe: ES's
    * `search.max_buckets` default — the most buckets one response may
    * carry. A census larger than this spills (`sum_other_doc_count > 0`)
    * and the probe rejects itself back to the row scan.
    */
  val MaxTermsSize: Int = 65536
}
