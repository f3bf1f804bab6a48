package graft.queries

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executor, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpContext, HttpExchange, HttpHandler, HttpServer,
  HttpsConfigurator, HttpsServer}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampType}

import graft.sources.SignalSink

/** Declared queries through the LIVE wire clients — the network half of
  * the reference's sync loop, gate-checked end to end with no socket
  * leaving the machine: a loopback stub implements enough of the
  * Elasticsearch `_search` API (bool.filter match/range, size, sort time
  * desc — exactly the request shape [[graft.sources.EsQueryDsl]] emits and
  * elastic.go:46-108 [ext] sends) and is seeded deterministically from the
  * `events` table, so DuckDB over the same table is the oracle. The read
  * runs the REAL client stack: `graft-status-live` → one paged `_search`
  * loop per subject (the reference's per-token fan-out, as Spark tasks) →
  * [[graft.sources.EsHttpClient]]'s boundary-overlap pagination → the
  * common NDJSON decode path.
  */
object LiveQueries {

  /** Loopback HttpServer factory for every stub (gate rows, specs,
    * probes). Sets `sun.net.httpserver.nodelay` BEFORE the server class
    * loads: without it the JDK HttpServer leaves Nagle on, and every
    * small response with a body pays the classic 40 ms
    * Nagle×delayed-ACK stall — a test-double artifact (a real
    * Elasticsearch/ClickHouse sets TCP_NODELAY) that was inflating every
    * driver-side round trip ~17× (45 ms → 2.7 ms measured). The property
    * is read once at the server class's static init, so it must be set
    * by the FIRST creator — which is why all stubs go through here.
    */
  private[graft] def loopbackServer(backlog: Int = 0): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), backlog)
  }

  /** One stub-corpus document. `signalJson` — the `_source` a real ES
    * would return under the reference's signal projection
    * (`_source.includes`), or None when the doc carries NONE of the
    * requested signals (the `exists` + `minimum_should_match: 1` clauses
    * drop it server-side). Both precomputed at seed time so the stub
    * stays a lookup, not a per-request JSON walk. A `sourceless` doc's
    * hit carries no `_source` at all (stored-fields/_source-disabled
    * responses): it occupies a page slot but can never be decoded.
    */
  private[graft] final case class StubDoc(id: String, subject: String, timeUs: Long,
      json: String, signalJson: Option[String] = None, sourceless: Boolean = false)

  /** One seeded CloudEvents status document, the `_source` of every stub
    * corpus: `version` is the `dimo.zone.status` dataschema version and
    * `data` the payload object's JSON. `timeUs` renders as RFC 3339.
    */
  private[graft] def statusJson(id: String, subject: String, timeUs: Long,
      version: String, data: String): String = {
    val iso = java.time.Instant.ofEpochSecond(timeUs / 1000000L, (timeUs % 1000000L) * 1000L)
    s"""{"id":"$id","subject":"$subject","source":"dimo/integration/live",""" +
      s""""specversion":"1.0","time":"$iso","dataschema":"dimo.zone.status/$version",""" +
      s""""type":"com.dimo.device.status","data":$data}"""
  }

  /** How a [[startStub]] server behaves. The defaults are a plain ES 7
    * cluster: no page cap, no point-in-time API, and the `time_cuts`
    * percentiles aggregation served on `_search` and `_msearch`.
    *
    * @param requireSignalClauses REJECT (400) any search missing the
    *   reference's signal-filter clauses: a gate row then fails loudly if
    *   the projection pushdown ever regresses to full `_source`
    * @param sizeCap largest servable page. A larger one trips the circuit
    *   breaker (500 "Data too large", the reference's halving trigger,
    *   sync.go:163-178)
    * @param windowError refuse an over-cap page the way a real ES's
    *   `index.max_result_window` does instead (400 "Result window is too
    *   large"): the loop must treat both as "this size is unservable"
    * @param pitMode the ES 8 posture: `POST {index}/_pit` issues
    *   point-in-time ids and an `_id`-sort request is REJECTED (no
    *   fielddata on `_id`). Without it `_pit` is 404 and the `_id`-asc
    *   drain is served (the pre-PIT fallback)
    * @param pitTransientFailures the first N `_pit` opens answer 503
    * @param timeCutsMode serve the `time_cuts` percentiles probe. Without
    *   it the agg-less response makes the client keep the single loop
    * @param msearchMode serve `_msearch` (with `timeCutsMode` only).
    *   Without it a 404 sends the client to per-request probes, like an
    *   older ES or a strict proxy
    */
  private[graft] final case class StubModes(
      requireSignalClauses: Boolean = false,
      sizeCap: Int = Int.MaxValue,
      windowError: Boolean = false,
      pitMode: Boolean = false,
      pitTransientFailures: Int = 0,
      timeCutsMode: Boolean = true,
      msearchMode: Boolean = true)

  /** What a [[startStub]] server records for its caller to assert on.
    *
    * @param served hits served by page requests
    * @param sliceSeen the slice id of every sliced-PIT request
    * @param pitOpened point-in-time ids issued
    * @param slicedSubjects the subject of every sliced request carrying one
    * @param servedSliced hits served by sliced requests alone: a hot
    *   subject's exactly-once-across-slices pin needs this tally (cold
    *   loops legitimately re-serve page-boundary docs)
    * @param pitClosedIds the ids the client released
    * @param servedSlicedAtFirstClose `servedSliced` when the first id was
    *   released (-1 until then): a release firing before the last slice
    *   request shows as a short tally
    * @param msearchRequests `_msearch` requests served
    * @param requests when set, the body of every `_search` request
    */
  private[graft] final case class StubCounters(
      served: AtomicLong = new AtomicLong,
      sliceSeen: ConcurrentLinkedQueue[Int] = new ConcurrentLinkedQueue[Int](),
      pitOpened: AtomicLong = new AtomicLong,
      slicedSubjects: ConcurrentLinkedQueue[String] = new ConcurrentLinkedQueue[String](),
      servedSliced: AtomicLong = new AtomicLong,
      pitClosedIds: ConcurrentLinkedQueue[String] = new ConcurrentLinkedQueue[String](),
      servedSlicedAtFirstClose: AtomicLong = new AtomicLong(-1),
      msearchRequests: AtomicLong = new AtomicLong,
      requests: Option[ConcurrentLinkedQueue[String]] = None)

  /** Does the request offer `Accept-Encoding: gzip`? */
  private[queries] def acceptsGzip(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists(_.toLowerCase.contains("gzip"))

  /** Sends `body` with status `code` (no body when empty) and closes. With
    * `gzip`, a non-empty 200 body goes out gzipped to a client that
    * accepts it.
    */
  private[queries] def respond(ex: HttpExchange, code: Int, body: String,
      gzip: Boolean = false): Unit = {
    val plain = body.getBytes(StandardCharsets.UTF_8)
    val bytes =
      if (gzip && code == 200 && plain.nonEmpty && acceptsGzip(ex)) {
        ex.getResponseHeaders.set("Content-Encoding", "gzip")
        graft.sources.LiveHttp.gzipBytes(plain)
      } else plain
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** `server` (default a plain [[loopbackServer]]), started with its `/`
    * handler on a pool of 32 daemon threads named `name`. The JDK server
    * never shuts down an executor it was given, so the returned server's
    * `stop` releases the pool too: a stopped stub leaves no thread behind.
    * An `HttpsServer` comes back as one, so [[urlOf]] still reads https.
    */
  private[queries] def pooledServer(name: String, handler: HttpHandler,
      server: HttpServer = loopbackServer(1024)): HttpServer = {
    val threads = Executors.newFixedThreadPool(32, (r: Runnable) => {
      val t = new Thread(r, name); t.setDaemon(true); t
    })
    server.setExecutor(threads)
    server.createContext("/", handler)
    server.start()
    server match {
      case tls: HttpsServer => new HttpsServer with PoolOwner {
        val inner = tls; val pool = threads
        override def setHttpsConfigurator(c: HttpsConfigurator): Unit = tls.setHttpsConfigurator(c)
        override def getHttpsConfigurator: HttpsConfigurator = tls.getHttpsConfigurator
      }
      case plain => new HttpServer with PoolOwner { val inner = plain; val pool = threads }
    }
  }

  /** A started server that owns its handler pool: `stop` releases it, and
    * the pool cannot be swapped out.
    */
  private trait PoolOwner extends HttpServer {
    val inner: HttpServer
    val pool: ExecutorService
    override def bind(addr: InetSocketAddress, backlog: Int): Unit = inner.bind(addr, backlog)
    override def start(): Unit = inner.start()
    override def setExecutor(e: Executor): Unit =
      throw new UnsupportedOperationException("a pooled stub owns its executor")
    override def getExecutor: Executor = inner.getExecutor
    override def stop(delay: Int): Unit = try inner.stop(delay) finally pool.shutdown()
    override def createContext(path: String, h: HttpHandler): HttpContext =
      inner.createContext(path, h)
    override def createContext(path: String): HttpContext = inner.createContext(path)
    override def removeContext(path: String): Unit = inner.removeContext(path)
    override def removeContext(ctx: HttpContext): Unit = inner.removeContext(ctx)
    override def getAddress: InetSocketAddress = inner.getAddress
  }

  /** The fixed-corpus `_search` double every gate row, spec and probe
    * reads through. Honors the pushed filters + size + desc sort, both
    * drain grammars (`_id`-asc `search_after`, and `_shard_doc` under a
    * PIT with the parallel `slice` form), the planner's probes (`_stats`,
    * `time_cuts`, `max_time`, `group_counts`, size-0 totals) and — when
    * the request carries the reference's signal-filter clauses — the
    * `exists`/`minimum_should_match` row filter and the
    * `_source.includes` projection. `modes` shapes the cluster and
    * `counters` records what it served. The caller stops it.
    */
  private[graft] def startStub(docs: IndexedSeq[StubDoc], modes: StubModes = StubModes(),
      counters: StubCounters = StubCounters()): HttpServer = {
    import counters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pitSeq = new AtomicLong()
    // ids actually ISSUED: a search under an unknown PIT id is a 400,
    // like a real ES ("No search context found") — pins that every slice
    // rides the DRIVER's shared snapshot, not a homemade id
    val issuedPits = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val pitFails = new java.util.concurrent.atomic.AtomicInteger(modes.pitTransientFailures)
    // the stub's own inverted index: docs pre-bucketed by subject and
    // pre-sorted newest-first, so a per-subject page request costs its
    // bucket, not a corpus scan (a real ES does at least this well)
    val bySubject: Map[String, IndexedSeq[StubDoc]] =
      docs.groupBy(_.subject).view.mapValues(
        _.sortBy(d => (-d.timeUs, d.id))).toMap
    val allSorted = docs.sortBy(d => (-d.timeUs, d.id))
    // the search_after drain grammar reads `_id` ascending
    lazy val bySubjectId: Map[String, IndexedSeq[StubDoc]] =
      docs.groupBy(_.subject).view.mapValues(_.sortBy(_.id)).toMap
    lazy val allById = docs.sortBy(_.id)
    // the sizing and max-time probes answer from the fixed corpus: taken
    // once here, not by a corpus walk per request
    val storeBytes = docs.iterator.map(_.json.length.toLong).sum
    val maxTimeMs = if (docs.isEmpty) "null" else (docs.iterator.map(_.timeUs).max / 1000).toString
    pooledServer("live-es-stub", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getResponseHeaders.add("Content-Type", "application/json")
        val path = ex.getRequestURI.getPath
        if (path.contains("/_stats")) {
          // the sizing probe (GET {index}/_stats/docs,store): primaries
          // doc count + stored bytes — deterministic from the corpus, and
          // carrying ZERO hits (the served counter must not move)
          respond(ex, 200, s"""{"_all":{"primaries":{"docs":{"count":${docs.length}},""" +
            s""""store":{"size_in_bytes":$storeBytes}}}}""")
          return
        }
        if (path.endsWith("/_pit")) {
          // point-in-time lifecycle: offered only in pitMode (the ES 8
          // posture); a 404 makes the client fall back to the `_id` drain
          val pitBody = ex.getRequestBody.readAllBytes()
          if ("POST" == ex.getRequestMethod && modes.pitMode) {
            if (pitFails.getAndDecrement() > 0) {
              // an injected transient blip: the client must RETRY (and
              // surface a task/planning failure if retries exhaust) —
              // never silently conclude "no PIT support"
              respond(ex, 503, """{"error":"stub transient overload"}""")
              return
            }
            pitOpened.incrementAndGet()
            val id = s"pit-${pitSeq.incrementAndGet()}"
            issuedPits.add(id)
            respond(ex, 200, s"""{"id":"$id"}""")
          } else if ("DELETE" == ex.getRequestMethod) {
            // the query-end release hook lands here: record WHICH id was
            // closed and how many sliced docs had been served by then
            val closedId = mapper.readTree(pitBody).path("id").asText("")
            pitClosedIds.add(closedId)
            // a real ES frees the search context: any later search under
            // this id is a search_context_missing 400
            issuedPits.remove(closedId)
            servedSlicedAtFirstClose.compareAndSet(-1L, servedSliced.get())
            respond(ex, 200, """{"succeeded":true}""")
          } else respond(ex, 404, "")
          return
        }
        // the PIT-less drain's cut probe: time percentiles of the
        // matching docs (nearest-rank — any estimate is valid, cuts
        // only place window boundaries); size-0, zero hits served.
        // Shared by the single `_search` form and each `_msearch` slot.
        def cutsAggResponse(req: com.fasterxml.jackson.databind.JsonNode): String = {
          var subj: Option[String] = None
          var gte: Option[Long] = None
          var lt: Option[Long] = None
          req.path("query").path("bool").path("filter").forEach { f =>
            val m = f.path("match").path("subject").path("query")
            if (m.isTextual) subj = Some(m.asText())
            val r = f.path("range").path("time")
            if (r.has("gte")) gte = Some(r.get("gte").asText().toLong)
            if (r.has("lt")) lt = Some(r.get("lt").asText().toLong)
          }
          // per-subject probes cost their bucket, not a corpus scan (same
          // inverted-index posture as the page handler)
          val probeBase = subj.map(s => bySubject.getOrElse(s, IndexedSeq.empty))
            .getOrElse(docs)
          val ms = probeBase.iterator
            .filter(d => subj.forall(_ == d.subject) &&
              gte.forall(d.timeUs / 1000 >= _) && lt.forall(d.timeUs / 1000 < _))
            .map(_.timeUs / 1000).toVector.sorted
          val vals = Seq.newBuilder[String]
          req.path("aggs").path("time_cuts").path("percentiles").path("percents").forEach { p =>
            val v =
              if (ms.isEmpty) "null"
              else ms(math.min(ms.size - 1,
                math.max(0, math.ceil(p.asDouble() / 100.0 * ms.size).toInt - 1))).toString
            vals += s"""{"key":${p.asDouble()},"value":$v}"""
          }
          s"""{"aggregations":{"time_cuts":{"values":[${vals.result().mkString(",")}]}},""" +
            s""""hits":{"hits":[]}}"""
        }
        if (path.endsWith("/_msearch")) {
          // the batched cut probe: NDJSON header/body pairs in, a
          // positionally-aligned `responses` array out
          if (!modes.msearchMode || !modes.timeCutsMode) { respond(ex, 404, ""); return }
          msearchRequests.incrementAndGet()
          val lines = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            .split("\n").filter(_.nonEmpty)
          respond(ex, 200, lines.grouped(2).map { pair =>
            val body = mapper.readTree(pair(1))
            if (body.path("aggs").has("time_cuts")) cutsAggResponse(body)
            else """{"error":{"type":"unsupported msearch body"}}"""
          }.mkString("""{"responses":[""", ",", "]}"))
          return
        }
        val body = ex.getRequestBody.readAllBytes()
        requests.foreach(_.add(new String(body, StandardCharsets.UTF_8)))
        val req = mapper.readTree(body)
        if (req.path("aggs").has("time_cuts") && modes.timeCutsMode) {
          respond(ex, 200, cutsAggResponse(req))
          return
        }
        if (req.path("aggs").has("max_time")) {
          // the streaming tail's offset probe: size-0 max aggregation
          respond(ex, 200,
            s"""{"aggregations":{"max_time":{"value":$maxTimeMs}},"hits":{"hits":[]}}""")
          return
        }
        val size = req.path("size").asInt(10)
        if (size > modes.sizeCap) {
          if (modes.windowError)
            respond(ex, 400, """{"error":{"type":"illegal_argument_exception","reason":""" +
              s""""Result window is too large, from + size must be less than or equal to: """ +
              s"""[${modes.sizeCap}]"}}""")
          else respond(ex, 500, """{"error":"circuit_breaking_exception: Data too large"}""")
          return
        }
        var subject: Option[String] = None
        var subjectSet: Option[Set[String]] = None // `terms` membership clause
        var gteMs: Option[Long] = None
        var ltMs: Option[Long] = None
        req.path("query").path("bool").path("filter").forEach { f =>
          val m = f.path("match").path("subject").path("query")
          if (m.isTextual) subject = Some(m.asText())
          val t = f.path("terms").path("subject")
          if (t.isArray) {
            val b = Set.newBuilder[String]
            t.forEach(v => b += v.asText())
            subjectSet = Some(b.result())
          }
          val r = f.path("range").path("time")
          if (r.has("gte")) gteMs = Some(r.get("gte").asText().toLong)
          if (r.has("lt")) ltMs = Some(r.get("lt").asText().toLong)
        }
        val idSort = req.path("sort").size() > 0 && req.path("sort").get(0).has("_id")
        val hasExists = req.path("query").path("bool").path("should").size() > 0 &&
          req.path("query").path("bool").path("minimum_should_match").asInt(0) >= 1
        val hasIncludes = req.path("_source").path("includes").size() > 0
        if (modes.requireSignalClauses && !(hasExists && hasIncludes)) {
          // the assertion the gate row rides on: a request without the
          // reference's projection contract is refused outright
          respond(ex, 400,
            """{"error":"stub requires _source.includes + exists + minimum_should_match"}""")
          return
        }
        val signalMode = hasExists && hasIncludes
        // a `sourceless` doc's hit carries no `_source` at all
        // (stored-fields/_source-disabled responses)
        def hitJson(d: StubDoc, sort: String): String =
          if (d.sourceless) s"""{"_index":"device-status","_id":"${d.id}"$sort}"""
          else {
            val src = if (signalMode) d.signalJson.get else d.json
            s"""{"_index":"device-status","_id":"${d.id}","_source":$src$sort}"""
          }
        val pitReq = req.path("pit").path("id").isTextual
        if (pitReq && !modes.pitMode) {
          respond(ex, 400, """{"error":"stub has no point-in-time support"}""")
          return
        }
        if (idSort && modes.pitMode) {
          // the real-ES 8 posture: sorting on _id needs fielddata — once
          // the server offers PITs, the client must drain on _shard_doc
          respond(ex, 400, """{"error":{"type":"illegal_argument_exception","reason":""" +
            """"Fielddata is disabled on [_id] in [device-status]"}}""")
          return
        }
        if (pitReq) {
          // the _shard_doc drain: stable corpus position as the sort
          // value, cursor-exclusive; all pushed clauses still apply.
          // `slice: {id, max}` (the parallel-scan form) partitions docs
          // into disjoint subsets the way a real ES does server-side —
          // opaque to the client, modeled here as a hash of the doc id
          if (!issuedPits.contains(req.path("pit").path("id").asText(""))) {
            respond(ex, 400, """{"error":{"type":"search_context_missing_exception",""" +
              """"reason":"No search context found for id"}}""")
            return
          }
          val after = Option(req.get("search_after")).filter(_.isArray)
            .map(_.get(0).asLong())
          val sliceNode = req.path("slice")
          val inSlice: StubDoc => Boolean =
            if (sliceNode.isObject) {
              val sid = sliceNode.path("id").asInt(0)
              val smax = math.max(1, sliceNode.path("max").asInt(1))
              sliceSeen.add(sid)
              subject.foreach(slicedSubjects.add) // hot-subject drains pin here
              d => math.floorMod(d.id.hashCode, smax) == sid
            } else _ => true
          // cursor-aware: the sort value IS the corpus position, so the
          // drain resumes AT the cursor instead of re-scanning from doc 0
          // every page (a real ES resumes from the PIT context the same
          // way; the old form made each drain O(corpus) PER PAGE)
          val startIdx = after.map(a => (a + 1).toInt.max(0)).getOrElse(0)
          val picked = Iterator.range(startIdx, docs.length)
            .map(i => (docs(i), i))
            .filter { case (d, i) =>
              subject.forall(_ == d.subject) &&
                subjectSet.forall(_.contains(d.subject)) &&
                gteMs.forall(d.timeUs / 1000 >= _) && ltMs.forall(d.timeUs / 1000 < _) &&
                (!signalMode || d.signalJson.isDefined) &&
                inSlice(d) &&
                after.forall(i > _)
            }.take(size).toSeq
          served.addAndGet(picked.size.toLong)
          if (sliceNode.isObject) servedSliced.addAndGet(picked.size.toLong)
          val hits = picked.map { case (d, i) => hitJson(d, s""","sort":[$i]""") }
          respond(ex, 200, s"""{"hits":{"hits":[${hits.mkString(",")}]}}""")
          return
        }
        val base =
          if (idSort) {
            // the search_after drain grammar: `_id` ascending within the
            // window, cursor-exclusive. The bucket is sorted by `_id`, so
            // the cursor position binary-searches instead of rescanning
            // the bucket head every page (what a real ES's search_after
            // does against the index); the original `id > after` filter
            // stays on as the exactness check.
            val arr = subject.map(s => bySubjectId.getOrElse(s, IndexedSeq.empty))
              .getOrElse(allById)
            val after = Option(req.get("search_after")).filter(_.isArray)
              .map(_.get(0).asText())
            val from = after match {
              case Some(a) =>
                var lo = 0; var hi = arr.length
                while (lo < hi) { val m = (lo + hi) >>> 1; if (arr(m).id > a) hi = m else lo = m + 1 }
                lo
              case None => 0
            }
            Iterator.range(from, arr.length).map(arr(_))
              .filter(d => after.forall(d.id > _))
          } else {
            // newest-first buckets are sorted by (-timeUs, id) and the
            // pushed window is a half-open [gte, lt) on epoch-millis —
            // monotone along the sort — so both window edges binary-search
            // to a slice (the index lookup a real ES does); the original
            // per-doc window filter stays on as the exactness check.
            val arr = subject.map(s => bySubject.getOrElse(s, IndexedSeq.empty))
              .getOrElse(allSorted)
            def firstIdxBelow(bound: Long): Int = {
              var lo = 0; var hi = arr.length
              while (lo < hi) { val m = (lo + hi) >>> 1; if (arr(m).timeUs / 1000 < bound) hi = m else lo = m + 1 }
              lo
            }
            val from = ltMs.map(firstIdxBelow).getOrElse(0)
            val end = gteMs.map(firstIdxBelow).getOrElse(arr.length)
            Iterator.range(from, end).map(arr(_))
          }
        val matched = base
          .filter { d =>
            gteMs.forall(d.timeUs / 1000 >= _) && ltMs.forall(d.timeUs / 1000 < _) &&
              subjectSet.forall(_.contains(d.subject)) &&
              (!signalMode || d.signalJson.isDefined)
          }
        if (req.path("aggs").has("group_counts")) {
          // the grouped-count probe: a size-0 terms aggregation — buckets
          // by doc_count desc (key asc on ties, real-ES order), capped at
          // the requested terms size with the spill reported in
          // sum_other_doc_count (single shard ⇒ error bound 0)
          val terms = req.path("aggs").path("group_counts").path("terms")
          if (terms.path("field").asText("") != "subject") {
            respond(ex, 400, """{"error":"stub terms aggregation supports field subject only"}""")
            return
          }
          val tsize = terms.path("size").asInt(10)
          val grouped = matched.toSeq.groupBy(_.subject).view.mapValues(_.size).toSeq
          val taken = grouped.sortBy { case (k, n) => (-n, k) }.take(tsize)
          val other = grouped.map(_._2).sum - taken.map(_._2).sum
          val buckets = taken.map { case (k, n) => s"""{"key":"$k","doc_count":$n}""" }
            .mkString(",")
          respond(ex, 200, """{"aggregations":{"group_counts":""" +
            s"""{"doc_count_error_upper_bound":0,"sum_other_doc_count":$other,""" +
            s""""buckets":[$buckets]}},"hits":{"hits":[]}}""")
          return
        }
        if (size == 0) {
          // the stats probe: hits.total for the pushed-filter state
          respond(ex, 200,
            s"""{"hits":{"total":{"value":${matched.size},"relation":"eq"},"hits":[]}}""")
          return
        }
        val hits = matched.take(size).toSeq.map(hitJson(_, ""))
        served.addAndGet(hits.size.toLong)
        respond(ex, 200, s"""{"hits":{"hits":[${hits.mkString(",")}]}}""")
      }
    })
  }

  /** [[startStub]] with only the signal-clause mode and the served-hits
    * counter: the form the benchmark's ES double (`perfbench`) calls.
    */
  private[graft] def startStub(docs: IndexedSeq[StubDoc], requireSignalClauses: Boolean,
      served: AtomicLong): HttpServer =
    startStub(docs, StubModes(requireSignalClauses = requireSignalClauses),
      StubCounters(served = served))

  // ── The live-gate fixture: the entries below and `graft.tools.PhaseProbe`
  //    seed, serve, sync and stage through these helpers.

  /** The `events` rows every live fixture seeds from: those with a time
    * and a user.
    */
  private[graft] def seedEvents(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events").where(col("ts").isNotNull && col("user_id").isNotNull)

  /** An event's value in whole cents, the payload signal of every fixture. */
  private def cents: Column = round(col("value") * 100).cast(LongType)

  /** The seeded rows a stub corpus is built from, collected to the driver
    * (they seed the TEST DOUBLE; the measured path is the entry's read):
    * `subject` (default the user id), `tsu` (default the event time in
    * epoch micros) and `cents`, then `extra`.
    */
  private[graft] def seedRows(s: SparkSession, d: String,
      subject: Column = col("user_id").cast("string"),
      time: Column = expr("unix_micros(ts)"), extra: Seq[Column] = Nil): IndexedSeq[Row] =
    seedEvents(s, d)
      .select(Seq(subject.as("subject"), time.as("tsu"), cents.as("cents")) ++ extra: _*)
      .collect().toIndexedSeq

  /** The seeded events as `signal` rows for a ClickHouse double, in
    * [[graft.sources.SignalLiveSource.Schema]]: `token` (default the user
    * id), the event time, its type as the name, the cents as
    * `value_number` and the event id as `value_string`.
    */
  private[graft] def chSignals(s: SparkSession, d: String,
      token: Column = col("user_id").cast(LongType)): DataFrame =
    seedEvents(s, d).select(token.as("token_id"),
      col("ts").cast(TimestampType).as("timestamp"),
      col("event_type").cast(StringType).as("name"),
      round(col("value") * 100).cast(DoubleType).as("value_number"),
      col("event_id").cast(StringType).as("value_string"))

  /** How a corpus names its docs. The envelope id is always `<prefix><i>`
    * (i the corpus position); the stub's doc id is the same (`Plain`),
    * `<prefix><subject>-<tsu>-<i>` (`Keyed`), or `<prefix>` and `i`
    * zero-padded to 7 digits (`Padded`).
    */
  private[graft] object IdForm extends Enumeration { val Plain, Keyed, Padded = Value }

  /** How a corpus renders one seeded row: the id `prefix` and [[IdForm]],
    * the `dimo.zone.status` `version`, the `data` `payload`, and the
    * `signal` payload a signal-filtered search is served (None: the doc
    * carries none of the requested signals).
    */
  private[graft] final case class DocForm(prefix: String, payload: Row => String,
      version: String = "v2.0", id: IdForm.Value = IdForm.Plain,
      signal: Row => Option[String] = _ => None)

  /** The common payloads: the cents alone, and the cents as the speed. */
  private[graft] val CentsData: Row => String = r => s"""{"cents":${r.getLong(2)}}"""
  private[graft] val SpeedData: Row => String = r => s"""{"speed":${r.getLong(2)},"make":"m"}"""

  /** The corpora of the streaming tail (q217) and of the signal-filtered
    * sync (q218), which `graft.tools.PhaseProbe` replays.
    */
  private[graft] val StreamTailForm = DocForm("t", CentsData, id = IdForm.Keyed)
  private[graft] val SyncSignalsForm = DocForm("g", SpeedData, version = "v1.0",
    id = IdForm.Keyed, signal = r => Some(s"""{"speed":${r.getLong(2)}}"""))

  /** A tie corpus's time: every doc on one of three tied milliseconds,
    * bucket = cents mod 3.
    */
  private[graft] def tieTime: Column =
    (lit(1704000000000L) + pmod(cents, lit(3L)) * 60000L) * 1000L

  /** A subject mapping that folds every fifth user (~20% of the rows)
    * onto the one whale subject `whale`.
    */
  private[graft] def foldedOnto(whale: String): Column =
    when(col("user_id") % 5 === 0, lit(whale)).otherwise(col("user_id").cast("string"))

  /** A stub corpus of seeded rows, the first at position `offset`. Built
    * in parallel, order-preserving (r19, guide §2.6 on the driver): each
    * doc is built once at its position, so [[generations]] reuses the
    * first generation's docs in the second. Test-double seeding only —
    * the measured engine path is untouched.
    */
  private[graft] def corpus(rows: IndexedSeq[Row], form: DocForm,
      offset: Int = 0): IndexedSeq[StubDoc] = {
    import scala.collection.parallel.CollectionConverters._
    rows.zipWithIndex.par.map { case (r, j) =>
      val (i, subj, tsu) = (offset + j, r.getString(0), r.getLong(1))
      val envId = s"${form.prefix}$i"
      val id = form.id match {
        case IdForm.Plain => envId
        case IdForm.Keyed => s"${form.prefix}$subj-$tsu-$i"
        case IdForm.Padded => f"${form.prefix}$i%07d"
      }
      StubDoc(id, subj, tsu, statusJson(envId, subj, tsu, form.version, form.payload(r)),
        form.signal(r).map(statusJson(envId, subj, tsu, form.version, _)))
    }.seq.toIndexedSeq
  }

  /** A corpus in two generations, each doc built once: `first`, then
    * `first` followed by `second`.
    */
  private[graft] def generations(first: IndexedSeq[Row], second: IndexedSeq[Row],
      form: DocForm): (IndexedSeq[StubDoc], IndexedSeq[StubDoc]) = {
    val docs1 = corpus(first, form)
    (docs1, docs1 ++ corpus(second, form, first.length))
  }

  /** Seeded rows split at the midpoint of their time span into
    * `(newer, older)`. With `ms` the split falls on a whole millisecond,
    * so the halves never share one (a streaming tail's offsets are
    * ms-granular).
    */
  private[graft] def halves(rows: IndexedSeq[Row],
      ms: Boolean): (IndexedSeq[Row], IndexedSeq[Row]) = {
    val ts = rows.map(_.getLong(1))
    val mid = (ts.min + ts.max) / 2
    if (ms) rows.partition(_.getLong(1) / 1000 >= mid / 1000)
    else rows.partition(_.getLong(1) >= mid)
  }

  /** A signal frame split by VALUE at the micro midpoint of its time span
    * into `(older, newer)`, 4 partitions each: the halves never share a
    * microsecond.
    */
  private[graft] def signalHalves(signals: DataFrame): (DataFrame, DataFrame) = {
    val bounds = signals.agg(expr("min(unix_micros(timestamp))"),
      expr("max(unix_micros(timestamp))")).head()
    val midUs = (bounds.getLong(0) + bounds.getLong(1)) / 2
    (signals.where(expr(s"unix_micros(timestamp) < $midUs")).repartition(4),
      signals.where(expr(s"unix_micros(timestamp) >= $midUs")).repartition(4))
  }

  /** The loopback URL of a started double. */
  private[graft] def urlOf(server: HttpServer): String = {
    val scheme = if (server.isInstanceOf[HttpsServer]) "https" else "http"
    s"$scheme://127.0.0.1:${server.getAddress.getPort}"
  }

  /** Runs `f` with `server`'s URL, and stops the server afterwards. */
  private[graft] def withServer[T](server: HttpServer)(f: String => T): T =
    try f(urlOf(server)) finally server.stop(0)

  /** Serves `docs` through a [[startStub]] double for the length of `f`. */
  private[graft] def withStub[T](docs: IndexedSeq[StubDoc], modes: StubModes = StubModes(),
      counters: StubCounters = StubCounters())(f: String => T): T =
    withServer(startStub(docs, modes, counters))(f)

  /** Serves `stub` (default a plain [[ChSignalStub]]) holding an empty
    * `signal` table in [[graft.sources.SignalLiveSource.Schema]], created
    * by a client connecting with `wire`, for the length of `f`.
    */
  private[graft] def withSignalTable[T](stub: HttpServer = ChSignalStub.start(),
      wire: graft.sources.LiveWire = graft.sources.LiveWire.default)(f: String => T): T =
    withServer(stub) { url =>
      new graft.sources.ClickHouseHttpClient(url, wire = wire).execute(
        graft.sources.ClickHouseDdl.signalTableDdl(graft.sources.SignalLiveSource.Schema))
      f(url)
    }

  /** Runs `f` with dynamic partition pruning forced on, so stats
    * heuristics cannot decide whether a runtime-filtering entry's declared
    * feature runs, and restores the session's settings afterwards.
    */
  private[graft] def withDppForced[T](s: SparkSession)(f: => T): T = {
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10.0")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** One round of a live-sync entry: serves `docs` for the round, runs
    * `round` with the double's URL and the sink so far (None before the
    * first append), and appends its output to the store at `sinkDir`.
    */
  private[graft] def syncRound(s: SparkSession, docs: IndexedSeq[StubDoc], sinkDir: String,
      modes: StubModes = StubModes(), counters: StubCounters = StubCounters())(
      round: (String, Option[DataFrame]) => DataFrame): Unit =
    withStub(docs, modes, counters) { url =>
      val sink =
        if (Files.exists(Paths.get(sinkDir))) Some(SignalSink.readParquet(s, sinkDir)) else None
      SignalSink.appendParquet(round(url, sink), sinkDir, buckets = 8)
    }

  /** The per-token result a live-sync entry's oracle checks: signal rows,
    * the summed `Vehicle.Speed` cents, and the oldest and newest times.
    */
  private[graft] def signalAggregate(signals: DataFrame): DataFrame =
    signals.groupBy(col("tokenId").as("token_id"))
      .agg(count(lit(1)).as("n_signals"),
        sum(when(col("name") === "Vehicle.Speed", col("valueNumber"))
          .otherwise(lit(0.0))).cast(LongType).as("speed_sum"),
        expr("min(unix_micros(timestamp))").as("oldest_us"),
        expr("max(unix_micros(timestamp))").as("newest_us"))

  /** The per-`key` result a live read entry's oracle checks: docs and
    * their summed `data.cents`.
    */
  private[graft] def centsPer(key: String)(live: DataFrame): DataFrame =
    live.select(col(key), get_json_object(col("data"), "$.cents").cast("long").as("cents"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_docs"), sum(col("cents")).as("cents"))

  /** Runs `f` with one fresh `graft-<tag>` temp directory per tag, then
    * deletes them and everything in them. Nothing `f` returns may read
    * them lazily: a DataFrame over them is materialized inside `f`.
    */
  private[graft] def withTempDirs[T](tags: String*)(f: Seq[Path] => T): T = {
    val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      tags.foreach(t => dirs += Files.createTempDirectory(s"graft-$t"))
      f(dirs.toSeq)
    } finally dirs.foreach { dir =>
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** Stages `lines` as the newline-terminated UTF-8 file `name` in `dir`. */
  private[graft] def writeLines(dir: Path, name: String, lines: Seq[String]): Path =
    Files.write(dir.resolve(name), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  def defs: Seq[QueryDef] = Seq(

    // ── LIVE per-device sync read, gate-declared (r11): seed the stub
    //    cluster from `events` (one CloudEvents status doc per non-null-ts
    //    event, epoch-micro times in RFC3339, cents as the payload
    //    signal), push the full subject census as an IN-set (one paged
    //    `_search` loop PER SUBJECT — sync.go:60-84's goroutine fan-out as
    //    tasks), decode through the common NDJSON path, and aggregate the
    //    envelope + payload per subject. `localCheckpoint` materializes
    //    through the live stack before the stub stops; the driver's write
    //    then reads the checkpoint blocks. Any pagination loss/dup, time
    //    decode drift, or payload corruption breaks the DuckDB match.
    QueryDef(
      "q212_live_es_read",
      (s, d) => {
        val docs = corpus(seedRows(s, d),
          DocForm("e", r => s"""{"vehicle":{"cents":${r.getLong(2)}}}"""))
        val subjects = docs.map(_.subject).distinct.sorted
        withStub(docs) { url =>
          val live = s.read.format("graft-status-live")
            .option("url", url)
            .option("batchSize", "500")
            .load()
            .where(col("subject").isin(subjects: _*))
            .select(col("subject"), expr("unix_micros(time)").as("tsu"),
              get_json_object(col("data"), "$.vehicle.cents").cast(LongType).as("cents"))
            .groupBy(col("subject"))
            .agg(count(lit(1)).as("n_docs"),
              min(col("tsu")).as("oldest_us"),
              max(col("tsu")).as("newest_us"),
              sum(col("cents")).as("cents"))
          live.localCheckpoint(true) // materialize THROUGH the live stack
        }
      },
      Some("""SELECT CAST(user_id AS VARCHAR) AS subject,
               count(*)::BIGINT AS n_docs,
               CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS oldest_us,
               CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS newest_us,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1"""),
    ),

    // ── LIVE read under the reference's SIGNAL FILTER (r12): the
    //    `signals` option maps the configured VSS names to
    //    `data.<originalName>` fields (sync.go:236-256) and the request
    //    body carries `_source.includes` + `exists` should-clauses +
    //    `minimum_should_match: 1` (elastic.go:67-78). The stub REFUSES
    //    (400) any search missing those clauses — if the projection
    //    pushdown regresses to full `_source`, this row errors rather than
    //    silently matching — and serves the PROJECTED `_source` for docs
    //    carrying the signal, dropping the rest server-side. Docs with
    //    `value < 50` carry no `speed` field (the exists filter's prey);
    //    docs with it also carry a `make` field the projection must strip,
    //    pinned by `n_make = 0` in the oracle.
    QueryDef(
      "q213_live_es_projection",
      (s, d) => {
        val evs = seedRows(s, d, extra = Seq((col("value") >= 50.0).as("has_speed")))
        val docs = corpus(evs, DocForm("e", version = "v1.0",
          payload = r =>
            if (r.getBoolean(3)) s"""{"speed":${r.getLong(2)},"make":"Ford"}""" else """{"make":"Audi"}""",
          signal = r => if (r.getBoolean(3)) Some(s"""{"speed":${r.getLong(2)}}""") else None))
        val subjects = docs.map(_.subject).distinct.sorted
        withStub(docs, StubModes(requireSignalClauses = true)) { url =>
          val live = s.read.format("graft-status-live")
            .option("url", url)
            .option("batchSize", "500")
            .option("signals", "Vehicle.Speed")
            .load()
            .where(col("subject").isin(subjects: _*))
            .select(col("subject"), expr("unix_micros(time)").as("tsu"),
              get_json_object(col("data"), "$.speed").cast(LongType).as("speed"),
              get_json_object(col("data"), "$.make").as("make"))
            .groupBy(col("subject"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("speed")).as("speed_sum"),
              max(col("tsu")).as("newest_us"),
              count(col("make")).as("n_make")) // projection strips make ⇒ 0
          live.localCheckpoint(true) // materialize THROUGH the live stack
        }
      },
      Some("""SELECT CAST(user_id AS VARCHAR) AS subject,
               count(*)::BIGINT AS n_docs,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS speed_sum,
               CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS newest_us,
               (count(*) * 0)::BIGINT AS n_make
             FROM events
             WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value >= 50
             GROUP BY 1""")
    ),

    // ── LIVE ClickHouse WRITE, gate-declared (r12) — the write twin of
    //    q212 (clickhouse.go:113-130): DDL over the wire, then the
    //    DISTRIBUTED insert (each of 8 partitions POSTs its own CSV batch
    //    from the executor, timestamps as zone-independent epoch
    //    decimals), then read-back through the reference's LITERAL
    //    statements — `tokenIdsSql` once, `oldestSignalSql` per token (the
    //    sync loop's own per-token cadence, clickhouse.go:65-87) — plus
    //    one integrity aggregate so a lost or duplicated CSV row anywhere
    //    in the fan-out breaks the DuckDB match. The stub enforces
    //    DDL-before-INSERT like a real server.
    QueryDef(
      "q214_live_ch_write",
      (s, d) => {
        import graft.sources.{ClickHouseDdl, ClickHouseHttpClient}
        import org.apache.spark.sql.types._
        val signals = seedEvents(s, d)
          .select(col("user_id").cast(LongType).as("token_id"),
            col("ts").cast(TimestampType).as("timestamp"),
            col("event_type").cast(StringType).as("name"),
            cents.as("value_cents"))
          .repartition(8) // the distributed insert fan-out under test
        withServer(ChSignalStub.start()) { clientUrl =>
          val client = new ClickHouseHttpClient(clientUrl)
          client.execute(ClickHouseDdl.signalTableDdl(signals.schema))
          // executors POST CSV batches; the JOB-identity tag (sink table +
          // window) makes a re-submitted identical run dedup end-to-end,
          // not just its own task retries
          client.insertSignals(signals, "signal",
            runTag = Some(ClickHouseHttpClient.jobRunTag("signal", "q214-full-window")))
          // read-back: the reference's literal statements, driver-side —
          // exactly the sync loop's shape (one DISTINCT scan, then one
          // oldest-signal probe per token)
          val tokens = client.query(ClickHouseHttpClient.tokenIdsSql()).map(_(0).toLong)
          // the reference's per-token probes run CONCURRENTLY (its workers
          // are 25-100 goroutines, deviceapi/service.go + sync fan-out);
          // a serial loop here measured ~1.5 s of pure request latency at
          // 1500 tokens (r18). Bounded pool, one probe per token — the
          // statement grammar and count are unchanged.
          val pool = java.util.concurrent.Executors.newFixedThreadPool(25)
          val oldestUs: Map[Long, Long] =
            try tokens.map { tok =>
              tok -> pool.submit(new java.util.concurrent.Callable[Long] {
                override def call(): Long = {
                  val ts = client
                    .query(ClickHouseHttpClient.oldestSignalSql(tok, Seq.empty)).head(0)
                  (BigDecimal(ts) * 1000000).toLongExact
                }
              })
            }.map { case (tok, f) => tok -> f.get() }.toMap
            finally pool.shutdown()
          val agg: Map[Long, (Long, Long)] = client.query(
            "SELECT `token_id`, count(), sum(`value_cents`) FROM `signal` GROUP BY `token_id`")
            .map(r => r(0).toLong -> (r(1).toLong, r(2).toLong)).toMap
          val rows = tokens.sorted.map { tok =>
            org.apache.spark.sql.Row(tok, oldestUs(tok), agg(tok)._1, agg(tok)._2)
          }
          s.createDataFrame(rows.asJava, StructType.fromDDL("token_id BIGINT NOT NULL, " +
            "oldest_us BIGINT NOT NULL, n_rows BIGINT NOT NULL, cents BIGINT NOT NULL"))
        }
      },
      Some("""SELECT CAST(user_id AS BIGINT) AS token_id,
               CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS oldest_us,
               count(*)::BIGINT AS n_rows,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1""")
    ),

    // ── The FULL reference pipeline OVER THE WIRE, gate-declared (r12):
    //    two sync rounds through `graft-status-live` → SyncJob watermarks
    //    → signal explosion → partitioned parquet sink (sync.go:92-125).
    //    Round 1's live cluster holds only the NEWER half of history
    //    (split at the events midpoint); the backfill then appears and
    //    round 2 must fetch ONLY strictly below each token's
    //    oldest-synced watermark — any re-fetch duplicates rows, any
    //    watermark overshoot loses them, and either breaks the DuckDB
    //    match on the final sink (which must equal one explosion of the
    //    whole events table: 2 signals per doc, exactly once).
    QueryDef(
      "q215_live_sync_e2e",
      (s, d) => {
        import graft.jobs.{SyncJob, SyncOptions}
        import graft.sources.DeviceDim
        val evs = seedRows(s, d)
        val (newer, older) = halves(evs, ms = false)
        // round 2 = round 1's docs + the backfill
        val (docs1, docs2) = generations(newer, older,
          DocForm("e", SpeedData, version = "v1.0", id = IdForm.Keyed))
        val tokens = evs.map(_.getString(0)).distinct.sorted
        val dim = DeviceDim.identityDim(s, tokens.map(_.toLong).sorted)
        val opts = SyncOptions(tokens = tokens,
          start = Some(new java.sql.Timestamp(0L)),
          stop = Some(new java.sql.Timestamp(9999999999999L)))
        withTempDirs("q215-sink") { case Seq(dir) =>
          val sinkDir = dir.resolve("signals").toString
          // round 1: the live cluster knows only the newer half; round 2:
          // the backfill appeared; resume strictly below watermarks —
          // runLive pushes each token's watermark as its request window's
          // exclusive stop (sync.go:96-100), so only the unsynced prefix
          // crosses the wire
          for (docs <- Seq(docs1, docs2))
            syncRound(s, docs, sinkDir) { (url, sink) =>
              SyncJob.runLive(s, url, dim, existingSink = sink, opts, batchSize = 2000)
            }
          // the final sink: aggregate reads parquet, no live dependency left
          signalAggregate(SignalSink.readParquet(s, sinkDir)).localCheckpoint(true)
        }
      },
      Some("""SELECT CAST(user_id AS BIGINT) AS token_id,
               (count(*) * 2)::BIGINT AS n_signals,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS speed_sum,
               CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS oldest_us,
               CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS newest_us
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1""")
    ),

    // ── LIVE ClickHouse READ source (r12): `graft-signal-live` compiles
    //    its pushdowns to CH SQL over HTTP — name filter + column pruning
    //    into the WHERE/SELECT, the grouped COUNT/SUM/MIN as PARTIAL
    //    aggregates the server answers per token range (Spark's retained
    //    final agg merges) — against a stub that 400s anything outside
    //    the declared grammar, so a regression to unpushed scans fails
    //    loudly. The store is seeded by the DISTRIBUTED CSV write
    //    (clickhouse.go:113-130), making this the full write→read wire
    //    round trip; value_number carries integral cents so the pushed
    //    SUM is order-independent.
    QueryDef(
      "q216_live_ch_scan",
      (s, d) => {
        val signals = chSignals(s, d).repartition(8)
        withSignalTable() { url =>
          // the DSv2 writer (q214 gates the function-form insertSignals,
          // this row gates the idiomatic df.write form)
          signals.write.format("graft-signal-live").option("url", url)
            .mode("append").save()
          // plain-COLUMN aggregates so the pushdown fires (min over an
          // expression would block it); the micros conversion is a
          // post-aggregation projection
          val agg = s.read.format("graft-signal-live")
            .option("url", url).option("partitions", "8").load()
            .where(col("name").isin("click", "purchase", "view"))
            .groupBy(col("token_id"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("value_number")).cast(LongType).as("cents"),
              min(col("timestamp")).as("t0"))
            .select(col("token_id"), col("n_rows"), col("cents"),
              expr("unix_micros(t0)").as("oldest_us"))
          agg.localCheckpoint(true) // materialize THROUGH the live stack
        }
      },
      Some("""SELECT CAST(user_id AS BIGINT) AS token_id,
               count(*)::BIGINT AS n_rows,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents,
               CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS oldest_us
             FROM events
             WHERE ts IS NOT NULL AND user_id IS NOT NULL
               AND event_type IN ('click','purchase','view')
             GROUP BY 1""")
    ),

    // ── LIVE streaming tail, gate-declared (r12): `readStream` over
    //    `graft-status-live` — the CONTINUOUS form of the reference's
    //    cron sync. Offsets are the server's own max event time; phase 1
    //    tails a cluster holding only the OLDER half of history into a
    //    parquet sink, then the stream restarts from its checkpoint
    //    against a cluster holding everything and must read ONLY the
    //    newer half (a re-read duplicates, an offset overshoot loses —
    //    either breaks the oracle on the final sink, which must be
    //    exactly one pass over the whole events table). The forward tail
    //    pairs with q215's watermark BACKFILL: together they are the
    //    reference deployment's two sync directions.
    QueryDef(
      "q217_live_stream_tail",
      (s, d) => {
        // split on a MILLISECOND boundary: offsets are ms-granular, so the
        // two halves must not share a millisecond (the phase-2 floor is
        // olderMaxMs + 1)
        val (newer, older) = halves(seedRows(s, d), ms = true)
        // phase 2 = phase 1's docs + the newer half
        val (docs1, docs2) = generations(older, newer, StreamTailForm)
        withTempDirs("q217-out", "q217-ck") { case Seq(out, ck) =>
          val outDir = out.toString + "/tail"
          val ckpt = ck.toString
          def tailOnce(docs: IndexedSeq[StubDoc]): Unit = withStub(docs) { url =>
            // slices=8 (r19): each micro-batch's [committed, latest) window
            // drains as 8 PARALLEL filter-disjoint tiles (PIT-less server ⇒
            // the q239 window-cut planning; a PIT server would slice one
            // snapshot) instead of ONE sequential 25-round-trip page loop —
            // same rows, same offsets, same restart pin; the tail's wall is
            // the slowest tile, not the page-loop sum (guide §2.6).
            val q = s.readStream.format("graft-status-live")
              .option("url", url)
              .option("batchSize", "2000").option("slices", "8").load()
              .select(col("subject"), expr("unix_micros(time)").as("tsu"),
                get_json_object(col("data"), "$.cents").cast(LongType).as("cents"))
              .writeStream.format("parquet")
              .option("path", outDir).option("checkpointLocation", ckpt)
              .start()
            try q.processAllAvailable() finally q.stop()
          }
          tailOnce(docs1) // phase 1: the older half
          tailOnce(docs2) // phase 2: restart; only the newer half arrives
          s.read.parquet(outDir)
            .groupBy(col("subject"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("cents")).as("cents"),
              min(col("tsu")).as("oldest_us"),
              max(col("tsu")).as("newest_us"))
            .localCheckpoint(true)
        }
      },
      Some("""SELECT CAST(user_id AS VARCHAR) AS subject,
               count(*)::BIGINT AS n_docs,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents,
               CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS oldest_us,
               CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS newest_us
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1""")
    ),

    // ── The reference's FULL configuration over the wire (r12):
    //    SIGNAL_NAMES set (sync.go:236-256) + two-round watermark resume —
    //    every request carries BOTH the signal projection
    //    (`_source.includes` + `exists` + msm, which the stub REQUIRES)
    //    AND the per-token windows; the sink's watermarks are computed
    //    over the configured signal only (SyncOps.watermarks wmNames),
    //    and the explode extracts exactly that signal (1 row/doc — the
    //    projection stripped everything else, so even a wrong-field
    //    extraction has nothing to find). Oracle: one pass over events,
    //    one signal per doc.
    QueryDef(
      "q218_live_sync_signals",
      (s, d) => {
        import graft.jobs.{SyncJob, SyncOptions}
        import graft.sources.DeviceDim
        val evs = seedRows(s, d)
        val (newer, older) = halves(evs, ms = true)
        // round 2 = round 1's docs + the backfill
        val (docs1, docs2) = generations(newer, older, SyncSignalsForm)
        val tokens = evs.map(_.getString(0)).distinct.sorted
        val dim = DeviceDim.identityDim(s, tokens.map(_.toLong).sorted)
        val opts = SyncOptions(tokens = tokens,
          signalNames = Seq("Vehicle.Speed"),
          start = Some(new java.sql.Timestamp(0L)),
          stop = Some(new java.sql.Timestamp(9999999999999L)))
        withTempDirs("q218-sink") { case Seq(dir) =>
          val sinkDir = dir.resolve("signals").toString
          // requireSignalClauses: a request WITHOUT the projection is 400
          for (docs <- Seq(docs1, docs2))
            syncRound(s, docs, sinkDir, StubModes(requireSignalClauses = true)) { (url, sink) =>
              SyncJob.runLive(s, url, dim, sink, opts, batchSize = 2000)
            }
          // every sink row is the one configured signal
          signalAggregate(SignalSink.readParquet(s, sinkDir)).drop("newest_us")
            .localCheckpoint(true)
        }
      },
      Some("""SELECT CAST(user_id AS BIGINT) AS token_id,
               count(*)::BIGINT AS n_signals,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS speed_sum,
               CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS oldest_us
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1"""),
    ),

    // ── LIVE ClickHouse ROW SCAN, streamed (r13): the unaggregated read
    //    path — name-IN filter and column pruning compile into the CH
    //    SELECT (grammar-policed by the stub), and every matching ROW
    //    crosses the wire into Spark through `queryStream`
    //    (BodyHandlers.ofLines): the response is consumed incrementally
    //    off the socket, never materialized per partition — the
    //    reference's `rows.Next()` posture (clickhouse.go:79-84), and the
    //    r12 verdict's one scale hazard, closed. Row-level result (one
    //    output row per signal row) so any lost/duplicated/corrupted wire
    //    row breaks the DuckDB hash directly.
    QueryDef(
      "q219_live_ch_row_scan",
      (s, d) => {
        val signals = chSignals(s, d).repartition(8)
        withSignalTable() { url =>
          signals.write.format("graft-signal-live").option("url", url)
            .mode("append").save()
          val rows = s.read.format("graft-signal-live")
            .option("url", url).option("partitions", "8").load()
            .where(col("name").isin("click", "view"))
            .select(col("token_id"),
              expr("unix_micros(timestamp)").as("ts_us"),
              col("name"),
              col("value_number").cast(LongType).as("cents"))
          rows.localCheckpoint(true) // materialize THROUGH the streamed live read
        }
      },
      Some("""SELECT CAST(user_id AS BIGINT) AS token_id,
               CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
               event_type AS name,
               CAST(round(value*100) AS BIGINT) AS cents
             FROM events
             WHERE ts IS NOT NULL AND user_id IS NOT NULL
               AND event_type IN ('click','view')"""),
    ),

    // ── LIVE ES read across tie runs WIDER than the servable page (r13):
    //    every document lands on one of three tied milliseconds (bucket =
    //    cents mod 3), thousands of ties each, against a stub whose
    //    circuit breaker caps pages at 600 docs — the backward-paging
    //    protocol alone CANNOT drain such a run (the reference silently
    //    skips it, sync.go:151-155), so the read must widen to the cap,
    //    fall back to the `search_after` drain
    //    ([[graft.sources.EsQueryDsl.searchAfterRequest]]), drain each
    //    tied millisecond by `_id` cursor, and resume below it. Any doc
    //    lost to the cap (the reference's behavior) or duplicated by the
    //    cursor breaks the count/sum oracle.
    QueryDef(
      "q220_live_es_tie_drain",
      (s, d) => {
        val docs = corpus(seedRows(s, d, subject = lit("s0"), time = tieTime),
          DocForm("t", CentsData, id = IdForm.Padded))
        withStub(docs, StubModes(sizeCap = 600)) { url =>
          val live = s.read.format("graft-status-live")
            .option("url", url)
            .option("batchSize", "500")
            .load()
            .withColumn("tie_us", expr("unix_micros(time)"))
            .transform(centsPer("tie_us"))
          live.localCheckpoint(true) // materialize THROUGH the live stack
        }
      },
      Some("""SELECT (1704000000000000 +
                      ((CAST(round(value*100) AS BIGINT) % 3 + 3) % 3) * 60000000)::BIGINT AS tie_us,
               count(*)::BIGINT AS n_docs,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1"""),
    ),

    // ── LIVE CH runtime filtering (r13): the DPP shape of q190 against
    //    the WIRE source — the VIP build side (events → HAVING
    //    sum(cents) > threshold) is only known after it aggregates; the
    //    join then hands `graft-signal-live` its ACTUAL token set, the
    //    scan re-plans, and every CH SELECT carries `token_id IN (…)`:
    //    the store answers a primary-key point lookup instead of shipping
    //    the whole table for the join to discard (the reference's
    //    per-token correlated lookup, clickhouse.go:65-87, arriving from
    //    the planner). DPP confs forced for the entry (stats heuristics
    //    must not decide whether the declared feature runs) and restored.
    QueryDef(
      "q221_live_ch_dpp",
      (s, d) => {
        val signals = chSignals(s, d).repartition(8)
        val vips = seedEvents(s, d).where(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(sum(cents).as("spend"))
          .where(col("spend") > 120000L)
          .select(col("user_id").cast(LongType).as("token_id"))
        withSignalTable() { url =>
          withDppForced(s) {
            signals.write.format("graft-signal-live").option("url", url)
              .mode("append").save()
            val joined = s.read.format("graft-signal-live")
              .option("url", url).option("partitions", "8").load()
              .join(vips, Seq("token_id"))
              .groupBy(col("token_id"))
              .agg(count(lit(1)).as("n_rows"),
                sum(col("value_number")).cast(LongType).as("cents"))
            joined.localCheckpoint(true) // materialize THROUGH the runtime-filtered live read
          }
        }
      },
      Some("""WITH e AS (SELECT CAST(user_id AS BIGINT) AS token_id, event_type,
                   CAST(round(value*100) AS BIGINT) AS c
                 FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        vip AS (SELECT token_id FROM e WHERE event_type = 'purchase'
                GROUP BY 1 HAVING sum(c) > 120000)
        SELECT e.token_id, count(*)::BIGINT AS n_rows, sum(e.c)::BIGINT AS cents
        FROM e JOIN vip USING (token_id) GROUP BY 1"""),
    ),

    // ── LIVE ES COUNT pushdown (r13): `live.count()` — bare, subject-
    //    filtered, and time-windowed — answered by size-0 exact-total
    //    probes (`track_total_hits: true`): not ONE document pages over
    //    the wire, enforced loudly (the entry raises if the stub's
    //    served-docs counter moves — a silent regression to paging cannot
    //    hash-match its way through). At 100 TB the difference is a
    //    monitoring query costing one request vs re-downloading an index.
    QueryDef(
      "q222_live_es_count",
      (s, d) => {
        val evs = seedRows(s, d)
        val docs = corpus(evs, DocForm("n", _ => "{}"))
        val served = new AtomicLong
        withStub(docs, counters = StubCounters(served = served)) { url =>
          val live = s.read.format("graft-status-live")
            .option("url", url)
            .option("batchSize", "500").load()
          val nTotal = live.count()
          val minSubj = evs.map(_.getString(0)).min
          val us = evs.map(_.getLong(1))
          val midMs = ((us.min + us.max) / 2) / 1000
          val nSubj = live.where(col("subject") === minSubj).count()
          val nWin = live.where(col("time") >= new java.sql.Timestamp(midMs)).count()
          require(served.get() == 0,
            s"COUNT pushdown regressed to paging: ${served.get()} docs shipped")
          import org.apache.spark.sql.types._
          s.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row(nTotal, nSubj, nWin)),
            StructType(Seq(
              StructField("n_total", LongType, nullable = false),
              StructField("n_subj", LongType, nullable = false),
              StructField("n_window", LongType, nullable = false))))
        }
      },
      Some("""WITH e AS (SELECT CAST(user_id AS VARCHAR) AS subj,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us
                 FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        m AS (SELECT ((min(us)+max(us))//2)//1000*1000 AS wus, min(subj) AS s0 FROM e)
        SELECT count(*)::BIGINT AS n_total,
          sum(CASE WHEN e.subj = (SELECT s0 FROM m) THEN 1 ELSE 0 END)::BIGINT AS n_subj,
          sum(CASE WHEN e.us >= (SELECT wus FROM m) THEN 1 ELSE 0 END)::BIGINT AS n_window
        FROM e"""),
    ),

    // ── LIVE ES runtime filtering (r14): the DPP shape of q221 against
    //    the WIRE ES source — the VIP build side (purchase spend above a
    //    threshold) is only known after it aggregates; the broadcast join
    //    then hands `graft-status-live` its ACTUAL subject set, the scan
    //    re-plans its per-subject fan-out around it, and ONLY the runtime
    //    subjects' `_search` page loops run (the reference's per-token
    //    correlated lookup, sync.go:77-80 + elastic.go:53, arriving from
    //    the planner). Enforced loudly: the stub's served-docs counter
    //    must equal EXACTLY the VIP subjects' doc count — one extra
    //    non-VIP page and the entry raises before any oracle compare.
    //    DPP confs forced (stats heuristics must not decide whether the
    //    declared feature runs) and restored.
    QueryDef(
      "q224_live_es_dpp",
      (s, d) => {
        val evs = seedRows(s, d)
        val docs = corpus(evs, DocForm("v", CentsData))
        val vips = seedEvents(s, d).where(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(sum(cents).as("spend"))
          .where(col("spend") > 120000L)
          .select(col("user_id").cast("string").as("subject"))
        // ground truth for the wire pin: docs belonging to VIP subjects
        val vipSet = vips.collect().map(_.getString(0)).toSet
        val expectedServed = evs.count(r => vipSet(r.getString(0))).toLong
        val served = new AtomicLong
        withStub(docs, counters = StubCounters(served = served)) { url =>
          withDppForced(s) {
            val live = s.read.format("graft-status-live")
              .option("url", url)
              .option("batchSize", "2000").load()
              .select(col("subject"),
                get_json_object(col("data"), "$.cents").cast(LongType).as("cents"))
            val joined = live.join(vips, Seq("subject"))
              .groupBy(col("subject"))
              .agg(count(lit(1)).as("n_docs"), sum(col("cents")).as("cents"))
            val out = joined.localCheckpoint(true) // materialize THROUGH the runtime-filtered read
            require(served.get() == expectedServed,
              s"runtime filtering regressed: ${served.get()} docs shipped, " +
                s"expected exactly the $expectedServed VIP docs")
            out
          }
        }
      },
      Some("""WITH e AS (SELECT CAST(user_id AS VARCHAR) AS subject, event_type,
                   CAST(round(value*100) AS BIGINT) AS c
                 FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        vip AS (SELECT subject FROM e WHERE event_type = 'purchase'
                GROUP BY 1 HAVING sum(c) > 120000)
        SELECT e.subject, count(*)::BIGINT AS n_docs, sum(e.c)::BIGINT AS cents
        FROM e JOIN vip USING (subject) GROUP BY 1"""),
    ),

    // ── LIVE ES GROUPED COUNT pushdown (r14): `groupBy(subject).count()`
    //    — the most common fleet-monitoring query — answered by size-0
    //    `terms` aggregation probes (exact-only: any bucket spill or
    //    shard error bound rejects back to the row scan), not ONE
    //    document paging over the wire, enforced loudly via the stub's
    //    served-docs counter. Two grouped counts (full window + recent
    //    half) land as two probes; the pushed `subject IS NOT NULL` is
    //    the null-group guard the terms semantics require.
    QueryDef(
      "q225_live_es_group_count",
      (s, d) => {
        val evs = seedRows(s, d)
        val docs = corpus(evs, DocForm("gc", _ => "{}"))
        val served = new AtomicLong
        withStub(docs, counters = StubCounters(served = served)) { url =>
          val live = s.read.format("graft-status-live")
            .option("url", url)
            .option("batchSize", "500").load()
            .where(col("subject").isNotNull)
          val total = live.groupBy(col("subject"))
            .agg(count(lit(1)).as("n_docs"))
          val us = evs.map(_.getLong(1))
          val midMs = ((us.min + us.max) / 2) / 1000
          val recent = live.where(col("time") >= new java.sql.Timestamp(midMs))
            .groupBy(col("subject"))
            .agg(count(lit(1)).as("n_recent"))
          val out = total.join(recent, Seq("subject"), "left")
            .select(col("subject"), col("n_docs"),
              coalesce(col("n_recent"), lit(0L)).as("n_recent"))
            .localCheckpoint(true) // materialize THROUGH the probe-backed scans
          require(served.get() == 0,
            s"grouped COUNT pushdown regressed to paging: ${served.get()} docs shipped")
          out
        }
      },
      Some("""WITH e AS (SELECT CAST(user_id AS VARCHAR) AS subject,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us
                 FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        m AS (SELECT ((min(us)+max(us))//2)//1000*1000 AS wus FROM e)
        SELECT subject, count(*)::BIGINT AS n_docs,
          sum(CASE WHEN us >= (SELECT wus FROM m) THEN 1 ELSE 0 END)::BIGINT AS n_recent
        FROM e GROUP BY 1"""),
    ),

    // ── LIVE ES FLEET-SUBSET COUNTS (r14): a pushed `subject IN (…)`
    //    compiles to one `terms` clause in the size-0 probes — counting a
    //    fleet subset (the everyday "how many docs do MY vehicles have"
    //    monitoring query) costs ONE request ungrouped and ONE request
    //    grouped, zero documents paged (enforced via the served counter).
    //    The row scan is untouched: it fans the same IN into per-subject
    //    page loops; only probes carry terms.
    QueryDef(
      "q226_live_es_subset_count",
      (s, d) => {
        val evs = seedRows(s, d)
        val docs = corpus(evs, DocForm("fs", _ => "{}"))
        // the monitored subset: even token ids (expressible in the oracle)
        val evens = evs.map(_.getString(0)).distinct.filter(_.toLong % 2 == 0).sorted
        val served = new AtomicLong
        withStub(docs, counters = StubCounters(served = served)) { url =>
          val live = s.read.format("graft-status-live")
            .option("url", url)
            .option("batchSize", "500").load()
            .where(col("subject").isin(evens: _*))
          val nSubset = live.count() // ONE terms-scoped exact-total probe
          val out = live.groupBy(col("subject"))
            .agg(count(lit(1)).as("n_docs")) // ONE terms-scoped terms-agg probe
            .withColumn("n_subset", lit(nSubset))
            .localCheckpoint(true)
          require(served.get() == 0,
            s"subset COUNT pushdown regressed to paging: ${served.get()} docs shipped")
          out
        }
      },
      Some("""WITH e AS (SELECT CAST(user_id AS VARCHAR) AS subject
                 FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                   AND CAST(user_id AS BIGINT) % 2 = 0),
        g AS (SELECT subject, count(*)::BIGINT AS n_docs FROM e GROUP BY 1)
        SELECT subject, n_docs, (SELECT sum(n_docs) FROM g)::BIGINT AS n_subset FROM g"""),
    ),

    // ── LIVE ES tie drain on the ES 8 protocol (r14): q220's over-cap
    //    tie corpus against a stub in the REAL-ES-8 posture — `_pit` ids
    //    issued, `_id`-sort requests REJECTED outright (no fielddata on
    //    _id). The drain must probe the PIT, sort on `_shard_doc`, and
    //    cursor-page on each hit's own sort values; the reference
    //    silently skips such tie runs entirely (sync.go:151-155). Same
    //    oracle as q220: any doc lost to the cap or duplicated by the
    //    cursor breaks the count/sum hash.
    QueryDef(
      "q227_live_es_pit_drain",
      (s, d) => {
        val docs = corpus(seedRows(s, d, subject = lit("s0"), time = tieTime),
          DocForm("p", CentsData, id = IdForm.Padded))
        withStub(docs, StubModes(sizeCap = 600, pitMode = true)) { url =>
          val live = s.read.format("graft-status-live")
            .option("url", url)
            .option("batchSize", "500")
            .load()
            .withColumn("tie_us", expr("unix_micros(time)"))
            .transform(centsPer("tie_us"))
          live.localCheckpoint(true) // materialize THROUGH the PIT-drained live stack
        }
      },
      Some("""SELECT (1704000000000000 +
                      ((CAST(round(value*100) AS BIGINT) % 3 + 3) % 3) * 60000000)::BIGINT AS tie_us,
               count(*)::BIGINT AS n_docs,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1"""),
    ),

    // ── LIVE wire tier over MUTUAL TLS (r14): the whole DSv2 CH
    //    write/read path through a REAL handshake — keytool-generated
    //    private CA ([[TlsStub]]), `HttpsServer` demanding a client
    //    certificate, the same grammar-strict [[ChSignalStub]] on top.
    //    The `tlsTruststore`/`tlsKeystore` options (threaded
    //    driver→executor as [[graft.sources.LiveWire]]) are the managed-
    //    cluster deployment posture the reference's TLS floor implies
    //    (clickhouse.go:41-47 [ext]). The entry RAISES unless BOTH
    //    negative handshakes fail first: default trust must reject the
    //    private CA (MITM posture), and a trust-only client must be
    //    rejected by the server (mTLS is mutual) — only then does the
    //    configured client write and read the oracle's rows.
    QueryDef(
      "q228_live_tls",
      (s, d) => {
        import graft.sources.{ClickHouseDdl, ClickHouseHttpClient}
        val signals = chSignals(s, d)
          .repartition(8) // the distributed fan-out, every task handshaking
        val m = TlsStub.shared
        withServer(ChSignalStub.start(TlsStub.httpsServer(m, needClientAuth = true))) { base =>
          // negative pins BEFORE any data moves: a silently-succeeding
          // untrusted or certificate-less client would be the bug
          val defaultTrust = new ClickHouseHttpClient(base, timeoutMs = 3000)
          val rejectedByClient =
            try { defaultTrust.execute("SELECT 1"); false }
            catch { case _: java.io.IOException => true }
          require(rejectedByClient, "default trust accepted a private-CA endpoint")
          val trustOnly = new ClickHouseHttpClient(base, timeoutMs = 3000,
            wire = TlsStub.clientWire(m, mtls = false))
          val rejectedByServer =
            try { trustOnly.execute("SELECT 1"); false }
            catch { case _: java.io.IOException => true }
          require(rejectedByServer, "server accepted a client without a certificate")
          val wire = TlsStub.clientWire(m, mtls = true)
          new ClickHouseHttpClient(base, wire = wire)
            .execute(ClickHouseDdl.signalTableDdl(graft.sources.SignalLiveSource.Schema))
          signals.write.format("graft-signal-live")
            .option("url", base)
            .option("tlsTruststore", m.truststore)
            .option("tlsTruststorePassword", m.password)
            .option("tlsKeystore", m.clientKeystore)
            .option("tlsKeystorePassword", m.password)
            .mode("append").save()
          s.read.format("graft-signal-live")
            .option("url", base)
            .option("tlsTruststore", m.truststore)
            .option("tlsTruststorePassword", m.password)
            .option("tlsKeystore", m.clientKeystore)
            .option("tlsKeystorePassword", m.password)
            .load()
            .groupBy(col("token_id"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("value_number")).cast(LongType).as("cents"),
              expr("min(unix_micros(timestamp))").as("oldest_us"))
            .localCheckpoint(true) // materialize THROUGH the mTLS wire stack
        }
      },
      Some("""SELECT CAST(user_id AS BIGINT) AS token_id,
               count(*)::BIGINT AS n_rows,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents,
               CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS oldest_us
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1"""),
    ),

    // ── LIVE wire tier COMPRESSED end-to-end (r14): the DSv2 CH
    //    write/read path under `compression=gzip` against a stub that
    //    REJECTS any identity posture — INSERT bodies must arrive
    //    `Content-Encoding: gzip`, SELECTs must carry
    //    `enable_http_compression=1`, every response (including the
    //    STREAMED row scans, inflated incrementally) is served gzipped.
    //    At 100 TB the insert/scan fan-out's wire bytes are the egress
    //    bill; CSV/TSV compress 5-10×, and the dedup token still hashes
    //    the UNCOMPRESSED bytes (content identity, not encoding). The
    //    entry RAISES first if an identity client can pass the stub —
    //    the enforcement is what makes the oracle compare meaningful.
    QueryDef(
      "q229_live_gzip",
      (s, d) => {
        import graft.sources.{ClickHouseHttpClient, LiveWire}
        val signals = chSignals(s, d).repartition(8)
        withSignalTable(ChSignalStub.start(gzip = true), LiveWire(gzip = true)) { base =>
          // negative pin: an identity-posture statement cannot pass
          val identity = new ClickHouseHttpClient(base)
          val rejected =
            try { identity.query("SELECT count() FROM `signal`"); false }
            catch { case e: graft.sources.ChHttpStatusException =>
              e.getMessage.contains("enable_http_compression") }
          require(rejected, "identity client passed the gzip-enforcing stub")
          signals.write.format("graft-signal-live")
            .option("url", base).option("compression", "gzip")
            .mode("append").save()
          s.read.format("graft-signal-live")
            .option("url", base).option("compression", "gzip")
            .load()
            .groupBy(col("token_id"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("value_number")).cast(LongType).as("cents"),
              expr("max(unix_micros(timestamp))").as("newest_us"))
            .localCheckpoint(true) // materialize THROUGH the compressed wire stack
        }
      },
      Some("""SELECT CAST(user_id AS BIGINT) AS token_id,
               count(*)::BIGINT AS n_rows,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents,
               CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS newest_us
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1"""),
    ),

    // ── LIVE wire tier AUTHENTICATED (r14): the reference authenticates
    //    both connections (elastic.go:29-30, clickhouse.go:40-43 [ext]);
    //    here the `username`/`password` options ride [[graft.sources
    //    .LiveWire]] into every executor-side request as standard basic
    //    auth. The stub enforces credentials on EVERY request (401
    //    otherwise, a real CH's users.xml posture) and the entry RAISES
    //    first unless an anonymous client is refused with the typed 401 —
    //    then the whole DSv2 write/read round runs authenticated
    //    (envelope probe, DDL, per-partition inserts, streamed scans).
    QueryDef(
      "q230_live_auth",
      (s, d) => {
        import graft.sources.{ChHttpStatusException, ClickHouseHttpClient, LiveWire}
        val signals = chSignals(s, d).repartition(8)
        val (user, pass) = ("sync_user", "gate-s3cret")
        withSignalTable(ChSignalStub.start(auth = Some((user, pass))),
            LiveWire(username = Some(user), password = Some(pass))) { base =>
          // negative pin: anonymity must be refused, typed
          val refused =
            try { new ClickHouseHttpClient(base).query("SELECT count() FROM `signal`"); false }
            catch { case e: ChHttpStatusException => e.statusCode == 401 }
          require(refused, "anonymous client passed the authenticated stub")
          signals.write.format("graft-signal-live")
            .option("url", base).option("username", user).option("password", pass)
            .mode("append").save()
          s.read.format("graft-signal-live")
            .option("url", base).option("username", user).option("password", pass)
            .load()
            .groupBy(col("name"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("value_number")).cast(LongType).as("cents"),
              countDistinct(col("token_id")).as("n_tokens"))
            .localCheckpoint(true) // materialize THROUGH the authenticated wire stack
        }
      },
      Some("""SELECT event_type AS name,
               count(*)::BIGINT AS n_rows,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents,
               count(DISTINCT user_id)::BIGINT AS n_tokens
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1"""),
    ),

    // ── PARALLEL whole-window live ES scan (r14): an unfiltered
    //    full-index read used to be ONE sequential page loop (the
    //    reference's loops are per-token; it has no full-index scan at
    //    all). `slices=8` plans 8 tasks, each draining its own
    //    server-side slice of a point-in-time (`slice:{id,max}` +
    //    `sort:_shard_doc` + `search_after` — the protocol a real ES 8
    //    serves natively), so a 100 TB index drain scales with the
    //    cluster. Exactly-once is two guarantees composed: the server's
    //    slice disjointness across tasks, each cursor's strict advance
    //    within one. The entry RAISES unless all 8 slices were actually
    //    requested AND the wire served each document exactly once —
    //    then the DuckDB compare catches any loss/duplication in the
    //    decode path.
    QueryDef(
      "q231_live_es_sliced",
      (s, d) => {
        val docs = corpus(seedRows(s, d), DocForm("sl", CentsData))
        val served = new AtomicLong
        val sliceSeen = new ConcurrentLinkedQueue[Int]()
        withStub(docs, StubModes(pitMode = true),
            StubCounters(served = served, sliceSeen = sliceSeen)) { url =>
          val live = s.read.format("graft-status-live")
            .option("url", url)
            .option("batchSize", "500").option("slices", "8").load()
          require(live.rdd.getNumPartitions == 8, "sliced scan must plan 8 tasks")
          val out = centsPer("subject")(live)
            .localCheckpoint(true) // materialize THROUGH the sliced wire stack
          require(sliceSeen.asScala.toSet == (0 until 8).toSet,
            s"expected all 8 slices requested, saw ${sliceSeen.asScala.toSet}")
          require(served.get() == docs.length.toLong,
            s"wire served ${served.get()} docs for a ${docs.length}-doc corpus " +
              "(slice overlap or loss)")
          out
        }
      },
      Some("""SELECT CAST(user_id AS VARCHAR) AS subject,
               count(*)::BIGINT AS n_docs,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1"""),
    ),

    // ── HOT-SUBJECT sliced drain (r15): a subject-constrained scan fans
    //    per-subject page loops, so ONE deep-history device serialized
    //    through a single sequential loop no matter how many executors
    //    idled — the last single-task shape in the live tier (and the
    //    reference's own deployment shape: 113 pinned tokens, some far
    //    hotter than others). With `slices=8`, planning runs ONE terms
    //    probe over the pushed subject set, spots subjects whose window
    //    exceeds `hotSubjectPages` pages, and fans EACH across 8
    //    sliced-PIT tasks (the slice composes with the match clause
    //    server-side) over ONE shared snapshot; cold subjects keep their
    //    grouped loops. The entry maps ~20% of users onto one 'hot'
    //    subject (≥20× any cold one), RAISES unless the stub counters
    //    prove the hot subject's docs were served across all 8 slices
    //    EXACTLY once while only it rode the sliced path — then the
    //    DuckDB compare catches any loss/duplication in the decode.
    QueryDef(
      "q234_live_es_hot_subject",
      (s, d) => {
        val docs = corpus(seedRows(s, d, subject = foldedOnto("hot")), DocForm("hs", CentsData))
        val hotTotal = docs.count(_.subject == "hot").toLong
        val subjects = docs.map(_.subject).distinct
        val sliceSeen = new ConcurrentLinkedQueue[Int]()
        val slicedSubjects = new ConcurrentLinkedQueue[String]()
        val servedSliced = new AtomicLong
        withStub(docs, StubModes(pitMode = true),
            StubCounters(sliceSeen = sliceSeen, slicedSubjects = slicedSubjects,
              servedSliced = servedSliced)) { url =>
          val live = s.read.format("graft-status-live")
            .option("url", url)
            .option("batchSize", "64").option("slices", "8")
            .option("hotSubjectPages", "2").load()
            .where(col("subject").isin(subjects: _*))
          val out = centsPer("subject")(live)
            .localCheckpoint(true) // materialize THROUGH the hot-sliced stack
          require(slicedSubjects.asScala.toSet == Set("hot"),
            s"only the hot subject may ride the sliced drain, saw ${slicedSubjects.asScala.toSet}")
          require(sliceSeen.asScala.toSet == (0 until 8).toSet,
            s"expected the hot subject across all 8 slices, saw ${sliceSeen.asScala.toSet}")
          require(servedSliced.get() == hotTotal,
            s"sliced path served ${servedSliced.get()} docs for a $hotTotal-doc hot subject " +
              "(slice overlap or loss)")
          out
        }
      },
      Some("""WITH m AS (
               SELECT CASE WHEN user_id % 5 = 0 THEN 'hot'
                           ELSE CAST(user_id AS VARCHAR) END AS subject,
                      CAST(round(value*100) AS BIGINT) AS cents
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
             SELECT subject, count(*)::BIGINT AS n_docs, sum(cents)::BIGINT AS cents
             FROM m GROUP BY 1"""),
    ),

    // ── O(groups) RANGED census planning (r15): at 10M tokens the
    //    materialized census + watermark map costs the DRIVER ~2.1 GB at
    //    load() (LiveProbe §7 — the reference's own loop state). With
    //    `censusRanges=G` the planner streams the SORTED staged files
    //    once and records one BYTE RANGE per group — O(groups) driver
    //    state — and each task reads its own slice before driving the
    //    same per-subject page loops, per-token watermarks included. The
    //    entry stages an events census + a watermark cutting every EVEN
    //    user at the corpus midpoint, RAISES unless exactly G ranged
    //    tasks planned AND the wire shipped exactly the surviving rows
    //    (a watermark that failed to ride a byte range would overship),
    //    then the DuckDB compare re-derives the same cut independently.
    QueryDef(
      "q236_live_es_ranged_census",
      (s, d) => {
        val evs = seedRows(s, d, extra = Seq(col("user_id").cast(LongType).as("uid")))
        val msAll = evs.map(_.getLong(1) / 1000)
        val cut = (msAll.min + msAll.max) / 2 // the even-user watermark
        val docs = corpus(evs, DocForm("rc", CentsData))
        val census = evs.map(_.getString(0)).distinct.sorted
        val stops = census.filter(_.toLong % 2 == 0).map(sub => s"$sub\t$cut")
        val expected = evs.count(r => r.getLong(3) % 2 == 1 || r.getLong(1) / 1000 < cut)
        val served = new AtomicLong
        withTempDirs("q236") { case Seq(dir) =>
          val cPath = writeLines(dir, "census", census)
          val sPath = writeLines(dir, "stops", stops)
          withStub(docs, counters = StubCounters(served = served)) { url =>
            val live = s.read.format("graft-status-live")
              .option("url", url)
              .option("batchSize", "200")
              .option("subjectsPath", cPath.toString)
              .option("stopBySubjectPath", sPath.toString)
              .option("censusRanges", "6").load()
            require(live.rdd.getNumPartitions == 6,
              s"expected 6 byte-range groups, planned ${live.rdd.getNumPartitions}")
            val out = centsPer("subject")(live)
              .localCheckpoint(true) // materialize THROUGH the ranged plan
            require(served.get() == expected.toLong,
              s"wire served ${served.get()} docs, watermark-surviving set is $expected " +
                "(a stop failed to ride its byte range, or a range re-read subjects)")
            out
          }
        }
      },
      Some("""WITH e AS (SELECT CAST(user_id AS BIGINT) uid,
                      CAST(round(value*100) AS BIGINT) cents,
                      epoch_us(CAST(ts AS TIMESTAMP))//1000 AS ms
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
             c AS (SELECT (min(ms)+max(ms))//2 AS cut FROM e)
             SELECT CAST(uid AS VARCHAR) AS subject, count(*)::BIGINT AS n_docs,
               sum(cents)::BIGINT AS cents
             FROM e, c WHERE uid % 2 = 1 OR ms < cut GROUP BY 1"""),
    ),

    // ── PIT-less hot drain via TIME-WINDOW CUTS (r16): q234's parallel
    //    whale drain rides sliced-PIT — an ES 8 feature. On a server
    //    WITHOUT point-in-time support (an ES 7 posture, or a PIT-less
    //    proxy) the whale used to serialize through one loop again.
    //    Planning now probes the server's own time PERCENTILES for the
    //    whale's window and tiles it into DISJOINT half-open sub-ranges —
    //    each tile is the ordinary exactly-once page loop, disjoint BY
    //    FILTER (no snapshot to tear; an approximate percentile only
    //    unbalances tiles, never rows). The entry replays q234's corpus
    //    against a PIT-LESS stub and RAISES unless the whale actually
    //    planned ≥2 time tiles while NO slice or PIT request ever hit
    //    the wire; the DuckDB compare then catches any tile overlap or
    //    gap (a duplicated or lost document breaks the grouped sums).
    QueryDef(
      "q239_live_es_window_cuts",
      (s, d) => {
        val docs = corpus(seedRows(s, d, subject = foldedOnto("hot")), DocForm("wc", CentsData))
        val subjects = docs.map(_.subject).distinct
        // the scan's cold-subject cap: two groups per core
        val coldGroups = math.min(2 * s.sparkContext.defaultParallelism, subjects.length - 1)
        val sliceSeen = new ConcurrentLinkedQueue[Int]()
        val pitOpened = new AtomicLong
        withStub(docs, StubModes(pitMode = false),
            StubCounters(sliceSeen = sliceSeen, pitOpened = pitOpened)) { url =>
          val live = s.read.format("graft-status-live")
            .option("url", url)
            .option("batchSize", "64").option("slices", "8")
            .option("hotSubjectPages", "2").load()
            .where(col("subject").isin(subjects: _*))
          val parts = live.rdd.getNumPartitions
          require(parts > coldGroups + 1 && parts <= coldGroups + 8,
            s"expected $coldGroups cold groups + 2..8 whale time tiles, planned $parts")
          val out = centsPer("subject")(live)
            .localCheckpoint(true) // materialize THROUGH the tiled plan
          require(sliceSeen.asScala.isEmpty,
            "no slice request may reach a PIT-less server")
          require(pitOpened.get() == 0L,
            "no PIT may be opened against a PIT-less server")
          out
        }
      },
      Some("""WITH m AS (
               SELECT CASE WHEN user_id % 5 = 0 THEN 'hot'
                           ELSE CAST(user_id AS VARCHAR) END AS subject,
                      CAST(round(value*100) AS BIGINT) AS cents
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
             SELECT subject, count(*)::BIGINT AS n_docs, sum(cents)::BIGINT AS cents
             FROM m GROUP BY 1"""),
    ),

    // ── HOT-LIST composition for the RANGED census (r16): q236's
    //    byte-range groups are equal-SUBJECT-count and never probe for
    //    hot devices (a terms probe cannot enumerate a 10M-token fleet),
    //    so a mega-fleet with a few deep-history whales still straggled
    //    its byte-range group. `hotSubjectsPath` — the operator usually
    //    knows its whales, or one prior groupBy(subject).count() run
    //    does — carves each listed subject OUT of the tiles at planning
    //    (zero extra passes: they are lines the sortedness walk already
    //    visits) and drains it through the q234 sliced-PIT path, its
    //    stops-file watermark applied ON the slice windows. The entry
    //    maps ~20% of rows onto one 'hot' subject, watermarks it at its
    //    midpoint, and RAISES unless the whale rode all 8 slices (only
    //    it), its watermark reached the slice windows, AND the ranged
    //    tiles excluded it exactly (total served = surviving set — a
    //    tile re-looping the whale would double-serve); the DuckDB
    //    compare then re-derives the cut independently.
    QueryDef(
      "q237_live_es_ranged_hotlist",
      (s, d) => {
        val evs = seedRows(s, d, subject = foldedOnto("hot"))
        val docs = corpus(evs, DocForm("rh", CentsData))
        val hotMs = evs.filter(_.getString(0) == "hot").map(_.getLong(1) / 1000)
        val cut = (hotMs.min + hotMs.max) / 2 // the whale's midpoint watermark
        val census = evs.map(_.getString(0)).distinct.sorted
        val hotSurviving = evs.count(r =>
          r.getString(0) == "hot" && r.getLong(1) / 1000 < cut)
        val expected = evs.count(_.getString(0) != "hot") + hotSurviving
        val served = new AtomicLong
        val servedSliced = new AtomicLong
        val sliceSeen = new ConcurrentLinkedQueue[Int]()
        val slicedSubjects = new ConcurrentLinkedQueue[String]()
        withTempDirs("q237") { case Seq(dir) =>
          val cPath = writeLines(dir, "census", census)
          val sPath = writeLines(dir, "stops", Seq(s"hot\t$cut"))
          val hPath = writeLines(dir, "hot", Seq("hot"))
          withStub(docs, StubModes(pitMode = true),
              StubCounters(served = served, servedSliced = servedSliced, sliceSeen = sliceSeen,
                slicedSubjects = slicedSubjects)) { url =>
            val live = s.read.format("graft-status-live")
              .option("url", url)
              .option("batchSize", "200")
              .option("subjectsPath", cPath.toString)
              .option("stopBySubjectPath", sPath.toString)
              .option("hotSubjectsPath", hPath.toString)
              .option("censusRanges", "6").option("slices", "8").load()
            require(live.rdd.getNumPartitions == 14,
              s"expected 6 byte-range groups + 8 whale slices, planned ${live.rdd.getNumPartitions}")
            val out = centsPer("subject")(live)
              .localCheckpoint(true) // materialize THROUGH the hot-list ranged plan
            require(slicedSubjects.asScala.toSet == Set("hot"),
              s"only the hot-list may ride the sliced drain, saw ${slicedSubjects.asScala.toSet}")
            require(sliceSeen.asScala.toSet == (0 until 8).toSet,
              s"expected the whale across all 8 slices, saw ${sliceSeen.asScala.toSet}")
            require(servedSliced.get() == hotSurviving.toLong,
              s"sliced path served ${servedSliced.get()} of a $hotSurviving-doc watermarked whale " +
                "(the stops-file watermark must ride the slice windows)")
            require(served.get() == expected.toLong,
              s"wire served ${served.get()}, surviving set is $expected " +
                "(a tile failed to exclude the whale, or excluded a cold subject)")
            out
          }
        }
      },
      Some("""WITH m AS (
               SELECT CASE WHEN user_id % 5 = 0 THEN 'hot'
                           ELSE CAST(user_id AS VARCHAR) END AS subject,
                      CAST(round(value*100) AS BIGINT) AS cents,
                      epoch_us(CAST(ts AS TIMESTAMP))//1000 AS ms
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
             c AS (SELECT (min(ms)+max(ms))//2 AS cut FROM m WHERE subject = 'hot')
             SELECT subject, count(*)::BIGINT AS n_docs, sum(cents)::BIGINT AS cents
             FROM m, c WHERE subject <> 'hot' OR ms < cut GROUP BY 1"""),
    ),

    // ── The MEGA-FLEET sync e2e (r16): q215's two-round pipeline driven
    //    through SyncJob.runLiveRanged — the job-layer entry for fleets
    //    past the ~10M-token load() wall, where the census and watermark
    //    map stage into a CALLER-OWNED directory and the scan plans
    //    O(groups) byte-range tiles (censusRanges) with the fleet's one
    //    whale (~20% of rows, folded onto token 1) carved out via
    //    hotSubjectsPath and drained across 8 sliced-PIT tasks. Round 1
    //    syncs the newer half; the backfill appears and round 2 must
    //    fetch ONLY strictly below each token's watermark THROUGH the
    //    ranged machinery — the stops file rides byte ranges, the
    //    whale's watermark rides its slice windows. RAISES unless only
    //    the whale sliced (across all 8) and staging survived round 1
    //    (tasks read it — deletion at load() would be the r15 cadence
    //    bug); the DuckDB compare then equals one explosion of the whole
    //    events table, exactly once.
    QueryDef(
      "q238_live_sync_ranged",
      (s, d) => {
        import graft.jobs.{SyncJob, SyncOptions}
        import graft.sources.DeviceDim
        val evs = seedRows(s, d, subject = foldedOnto("1"))
        val (newer, older) = halves(evs, ms = false)
        // round 2 = round 1's docs + the backfill
        val (docs1, docs2) = generations(newer, older,
          DocForm("g", SpeedData, version = "v1.0", id = IdForm.Keyed))
        val tokens = evs.map(_.getString(0)).distinct.sorted
        val dim = DeviceDim.identityDim(s, tokens.map(_.toLong).sorted)
        val opts = SyncOptions(tokens = tokens,
          start = Some(new java.sql.Timestamp(0L)),
          stop = Some(new java.sql.Timestamp(9999999999999L)))
        withTempDirs("q238-sink", "q238-staging") { case Seq(dir, staging) =>
          val sinkDir = dir.resolve("signals").toString
          def round(url: String, sink: Option[DataFrame]) =
            SyncJob.runLiveRanged(s, url, dim, existingSink = sink,
              opts, stagingDir = staging.toString, batchSize = 2000,
              censusRanges = 6, slices = 8, hotSubjects = Seq("1"))
          val sliceSeen = new ConcurrentLinkedQueue[Int]()
          val slicedSubjects = new ConcurrentLinkedQueue[String]()
          syncRound(s, docs1, sinkDir, StubModes(pitMode = true),
            StubCounters(sliceSeen = sliceSeen, slicedSubjects = slicedSubjects))(round)
          require(slicedSubjects.asScala.toSet == Set("1"),
            s"only the whale may ride the sliced drain, saw ${slicedSubjects.asScala.toSet}")
          require(sliceSeen.asScala.toSet == (0 until 8).toSet,
            s"expected the whale across all 8 slices, saw ${sliceSeen.asScala.toSet}")
          require(java.nio.file.Files.list(staging).iterator().asScala.nonEmpty,
            "caller-owned staging must survive the action (tasks read it mid-flight)")
          syncRound(s, docs2, sinkDir, StubModes(pitMode = true))(round)
          signalAggregate(SignalSink.readParquet(s, sinkDir)).localCheckpoint(true)
        }
      },
      Some("""WITH m AS (
               SELECT CASE WHEN user_id % 5 = 0 THEN 1
                           ELSE CAST(user_id AS BIGINT) END AS token_id,
                      CAST(round(value*100) AS BIGINT) AS cents,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
             SELECT token_id, (count(*) * 2)::BIGINT AS n_signals,
               sum(cents)::BIGINT AS speed_sum,
               CAST(min(us) AS BIGINT) AS oldest_us,
               CAST(max(us) AS BIGINT) AS newest_us
             FROM m GROUP BY 1"""),
    ),

    // ── Whale AUTO-DISCOVERY in the mega-fleet sync (r17): q238 names
    //    its whale (`hotSubjects = Seq("1")` — operator knowledge). With
    //    `hotMinRows` set, runLiveRanged instead asks the SINK: subjects
    //    whose already-synced depth exceeds the threshold
    //    (SyncOps.hotSubjectsFromSink — one bounded cluster-side count,
    //    capped BEFORE its broadcast) join the hot-list unnamed, making
    //    whale handling the mega-fleet default. Round 1 has no sink —
    //    nothing to discover, plain ranged tiles (RAISED). Round 2 must
    //    discover token 1 from round 1's own output and fan it across
    //    all 8 slices while fetching ONLY below the watermarks (RAISED);
    //    the DuckDB compare then equals one explosion of the whole
    //    events table, exactly once — a tile double-draining the
    //    discovered whale, or the discovery misfiring on a cold token,
    //    breaks the grouped sums.
    QueryDef(
      "q240_live_sync_hot_discovery",
      (s, d) => {
        import graft.jobs.{SyncJob, SyncOptions}
        import graft.sources.DeviceDim
        val evs = seedRows(s, d, subject = foldedOnto("1"))
        val (newer, older) = halves(evs, ms = false)
        // round 2 = round 1's docs + the backfill
        val (docs1, docs2) = generations(newer, older,
          DocForm("h", SpeedData, version = "v1.0", id = IdForm.Keyed))
        // the discovery threshold, derived from the fixture itself: the
        // whale's round-1 sink depth (2 signal rows per doc) must clear
        // it, every cold token must not — the midpoint is the widest
        // margin both ways
        val sinkDepths = newer.groupBy(_.getString(0)).map { case (k, v) => k -> v.size * 2L }
        val whaleRows = sinkDepths("1")
        val maxCold = (sinkDepths - "1").values.maxOption.getOrElse(0L)
        require(whaleRows > maxCold,
          s"fixture: the folded whale ($whaleRows rows) must out-weigh every cold token ($maxCold)")
        val hotMin = (whaleRows + maxCold) / 2
        val tokens = evs.map(_.getString(0)).distinct.sorted
        val dim = DeviceDim.identityDim(s, tokens.map(_.toLong).sorted)
        val opts = SyncOptions(tokens = tokens,
          start = Some(new java.sql.Timestamp(0L)),
          stop = Some(new java.sql.Timestamp(9999999999999L)))
        withTempDirs("q240-sink", "q240-staging") { case Seq(dir, staging) =>
          val sinkDir = dir.resolve("signals").toString
          def round(url: String, sink: Option[DataFrame]) =
            SyncJob.runLiveRanged(s, url, dim, existingSink = sink,
              opts, stagingDir = staging.toString, batchSize = 2000,
              censusRanges = 6, slices = 8, hotMinRows = hotMin)
          val sliced1 = new ConcurrentLinkedQueue[String]()
          syncRound(s, docs1, sinkDir, StubModes(pitMode = true),
            StubCounters(slicedSubjects = sliced1))(round)
          require(sliced1.asScala.isEmpty,
            s"round 1 has no sink to probe — plain tiles, saw sliced ${sliced1.asScala.toSet}")
          val sliceSeen = new ConcurrentLinkedQueue[Int]()
          val sliced2 = new ConcurrentLinkedQueue[String]()
          syncRound(s, docs2, sinkDir, StubModes(pitMode = true),
            StubCounters(sliceSeen = sliceSeen, slicedSubjects = sliced2))(round)
          require(sliced2.asScala.toSet == Set("1"),
            s"round 2 must discover EXACTLY the whale from the sink, saw ${sliced2.asScala.toSet}")
          require(sliceSeen.asScala.toSet == (0 until 8).toSet,
            s"expected the discovered whale across all 8 slices, saw ${sliceSeen.asScala.toSet}")
          signalAggregate(SignalSink.readParquet(s, sinkDir)).localCheckpoint(true)
        }
      },
      Some("""WITH m AS (
               SELECT CASE WHEN user_id % 5 = 0 THEN 1
                           ELSE CAST(user_id AS BIGINT) END AS token_id,
                      CAST(round(value*100) AS BIGINT) AS cents,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
             SELECT token_id, (count(*) * 2)::BIGINT AS n_signals,
               sum(cents)::BIGINT AS speed_sum,
               CAST(min(us) AS BIGINT) AS oldest_us,
               CAST(max(us) AS BIGINT) AS newest_us
             FROM m GROUP BY 1"""),
    ),

    // ── LOAD-BALANCED ranged groups (r17): q236's byte-range groups are
    //    equal-SUBJECT-count, so a moderately-skewed fleet packs its
    //    heavy devices into straggler groups unless the operator names
    //    every one in a hot-list. `censusWeightsPath` — a cluster-staged
    //    subject<TAB>weight file (sink depth via runLiveRanged's
    //    weightBySinkDepth, or any census the caller has) — moves the
    //    group boundaries to equal CUMULATIVE weight: the planner
    //    merge-walks the weights file in lockstep with the census
    //    (O(groups) driver state unchanged). The entry folds ~20% of
    //    rows onto one first-sorting subject, weights by true doc
    //    counts, and RAISES unless the whale got a group of its OWN
    //    (its weight exceeds one equal-weight share) while every other
    //    group respects the provable bound ceil(W/g) + max cold weight;
    //    the DuckDB compare then pins exactly-once through the weighted
    //    tiling.
    QueryDef(
      "q241_live_es_ranged_weighted",
      (s, d) => {
        val evs = seedRows(s, d, subject = foldedOnto("0-hot"))
        val docs = corpus(evs, DocForm("wb", CentsData))
        val wOf: Map[String, Long] =
          evs.groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
        val census = wOf.keys.toSeq.sorted
        val g = 8
        val total = wOf.values.sum
        val share = (total + g - 1) / g
        val maxCold = (wOf - "0-hot").values.max
        // fixture invariants, RAISED loudly if testdata generation drifts:
        // the whale must out-weigh one equal-weight share (else isolation
        // is not the deterministic outcome) and sort FIRST in the census
        require(wOf("0-hot") > share && census.head == "0-hot",
          s"fixture: whale ${wOf("0-hot")} must exceed share $share and sort first")
        withTempDirs("q241") { case Seq(dir) =>
          val cPath = writeLines(dir, "census", census)
          val wPath = writeLines(dir, "weights", census.map(sub => s"$sub\t${wOf(sub)}"))
          // the planner's own tiling, checked against the model BEFORE the
          // read: whale isolated, every cold group within the provable bound
          val ranges = graft.sources.StatusLiveSource.planCensusRangesHot(
            cPath.toString, None, g, Set.empty, Some(wPath.toString)).ranges
          val tiles = ranges.map(r => graft.sources.StatusLiveSource.readRange(
            cPath.toString, r.cStart, r.cEnd))
          require(tiles.flatten == census, "weighted tiles must reconstruct the census")
          require(tiles.head == Seq("0-hot"),
            s"the whale must own its group, got head tile ${tiles.head.take(3)}…")
          val coldLoads = tiles.tail.map(_.map(wOf).sum)
          require(coldLoads.forall(_ <= share + maxCold),
            s"cold group past the provable bound ${share + maxCold}: $coldLoads")
          val served = new AtomicLong
          withStub(docs, counters = StubCounters(served = served)) { url =>
            val live = s.read.format("graft-status-live")
              .option("url", url)
              .option("batchSize", "500")
              .option("subjectsPath", cPath.toString)
              .option("censusWeightsPath", wPath.toString)
              .option("censusRanges", g.toString).load()
            require(live.rdd.getNumPartitions == ranges.length,
              s"expected ${ranges.length} weighted groups, planned ${live.rdd.getNumPartitions}")
            val out = centsPer("subject")(live)
              .localCheckpoint(true) // materialize THROUGH the weighted ranged plan
            // exactly-once on the WIRE, modulo the page loop's deliberate
            // boundary overlap: each page beyond a loop's first may
            // re-serve one boundary-tie doc (deduped by id in the reader),
            // so the ceiling is the modeled extra-page count — a tile
            // lost to the tiling (under) or re-read whole (over by a
            // subject's weight) breaks either side
            val extraPages = wOf.values.map(w => (w + 499) / 500 - 1).sum
            require(served.get() >= total && served.get() - total <= extraPages,
              s"wire served ${served.get()} of $total docs (allowed overlap $extraPages)")
            out
          }
        }
      },
      Some("""WITH m AS (
               SELECT CASE WHEN user_id % 5 = 0 THEN '0-hot'
                           ELSE CAST(user_id AS VARCHAR) END AS subject,
                      CAST(round(value*100) AS BIGINT) AS cents
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
             SELECT subject, count(*)::BIGINT AS n_docs, sum(cents)::BIGINT AS cents
             FROM m GROUP BY 1"""),
    ),

    // ── Heavy-LAST weighted tiling (r17): the boundary rule's hard
    //    case. Fleets where newer ids run deeper put their heaviest
    //    subject at the END of the sorted census — a rule that tests
    //    only the cumulative weight BEFORE a line (the round's first
    //    cut) never places a boundary there and collapses the whole
    //    plan to ONE sequential group, exactly where the balance
    //    matters most. The MIDPOINT rule (boundary on the first line
    //    whose cum + w/2 crosses the next equal-weight cut) isolates
    //    the trailing whale; this entry folds ~20% of rows onto one
    //    LAST-sorting subject and RAISES unless it got a group of its
    //    own with every other group inside the provable bound — then
    //    the DuckDB compare pins exactly-once through the tiling.
    //    Fixture window: W/8 < whale < W/4 (both bounds RAISED — below,
    //    isolation is not the deterministic outcome; above, the
    //    midpoint crosses the last cut early and the whale may merge).
    QueryDef(
      "q242_live_es_ranged_weighted_tail",
      (s, d) => {
        val evs = seedRows(s, d, subject = foldedOnto("z-hot"))
        val docs = corpus(evs, DocForm("wt", CentsData))
        val wOf: Map[String, Long] =
          evs.groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
        val census = wOf.keys.toSeq.sorted
        val g = 8
        val total = wOf.values.sum
        val share = (total + g - 1) / g
        val maxCold = (wOf - "z-hot").values.max
        require(census.last == "z-hot" && wOf("z-hot") > share && wOf("z-hot") < total / 4,
          s"fixture: trailing whale ${wOf("z-hot")} must sit in (share=$share, W/4=${total / 4})")
        withTempDirs("q242") { case Seq(dir) =>
          val cPath = writeLines(dir, "census", census)
          val wPath = writeLines(dir, "weights", census.map(sub => s"$sub\t${wOf(sub)}"))
          val ranges = graft.sources.StatusLiveSource.planCensusRangesHot(
            cPath.toString, None, g, Set.empty, Some(wPath.toString)).ranges
          val tiles = ranges.map(r => graft.sources.StatusLiveSource.readRange(
            cPath.toString, r.cStart, r.cEnd))
          require(tiles.flatten == census, "weighted tiles must reconstruct the census")
          require(tiles.last == Seq("z-hot"),
            s"the TRAILING whale must own its group, got last tile ${tiles.last.takeRight(3)}")
          val coldLoads = tiles.init.map(_.map(wOf).sum)
          require(coldLoads.forall(_ <= share + maxCold),
            s"cold group past the provable bound ${share + maxCold}: $coldLoads")
          val served = new AtomicLong
          withStub(docs, counters = StubCounters(served = served)) { url =>
            val live = s.read.format("graft-status-live")
              .option("url", url)
              .option("batchSize", "500")
              .option("subjectsPath", cPath.toString)
              .option("censusWeightsPath", wPath.toString)
              .option("censusRanges", g.toString).load()
            require(live.rdd.getNumPartitions == ranges.length,
              s"expected ${ranges.length} weighted groups, planned ${live.rdd.getNumPartitions}")
            val out = centsPer("subject")(live)
              .localCheckpoint(true) // materialize THROUGH the weighted ranged plan
            val extraPages = wOf.values.map(w => (w + 499) / 500 - 1).sum
            require(served.get() >= total && served.get() - total <= extraPages,
              s"wire served ${served.get()} of $total docs (allowed overlap $extraPages)")
            out
          }
        }
      },
      Some("""WITH m AS (
               SELECT CASE WHEN user_id % 5 = 0 THEN 'z-hot'
                           ELSE CAST(user_id AS VARCHAR) END AS subject,
                      CAST(round(value*100) AS BIGINT) AS cents
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
             SELECT subject, count(*)::BIGINT AS n_docs, sum(cents)::BIGINT AS cents
             FROM m GROUP BY 1"""),
    ),

    // ── ALIAS-FLEET sync (r18): a dim mapping SEVERAL tokenIds to one
    //    subject (re-registrations, integration aliases — the reference's
    //    dim tolerates it, deviceapi/service.go:62-70 keys by subject).
    //    The cluster-staged stops/weights files are keyed BY SUBJECT, so
    //    the staging must re-aggregate after the dim join: per-token
    //    lines would duplicate the subject and crash the ranged planner's
    //    strict-sorted require. Tokens here carry DIFFERENT watermarks on
    //    one subject, so the aggregate CHOICE is observable: the backfill
    //    fetches `time < watermark`, so the subject's wire stop must be
    //    the MAX over its tokens (the union of their windows — an
    //    arbitrary or MIN pick UNDERSHIPS the newer-watermark token), and
    //    run()'s per-token watermark join clips the overlap exactly. The
    //    entry RAISES unless the staged files carry exactly ONE line per
    //    subject with the max-stop / summed-depth contents; the DuckDB
    //    compare then pins the exact per-token clipping.
    QueryDef(
      "q243_live_sync_alias_fleet",
      (s, d) => {
        import graft.jobs.{SyncJob, SyncOptions}
        import graft.sources.DeviceDim
        // pair CONSECUTIVE ids onto one subject: aliasing is guaranteed
        // at every SF, every aliased pair's (t % 3) differ (consecutive
        // ints), and the doc fan-out in the per-token watermark join
        // stays exactly 2x — a modulus-style mapping packs hundreds of
        // tokens per subject at sf0.1 and turns the join into the
        // fixture's own blow-up (first bench run: 18.9 s)
        val evs = seedRows(s, d,
          subject = concat(lit("v"), expr("user_id DIV 2").cast("string")),
          extra = Seq(col("user_id").cast(LongType).as("token")))
        val docs = corpus(evs, DocForm("al", SpeedData, version = "v1.0"))
        val tokens = evs.map(_.getLong(3)).distinct.sorted
        val subjOf: Map[Long, String] = tokens.map(t => t -> s"v${t / 2}").toMap
        // per-TOKEN watermarks, deterministically spread so tokens of one
        // subject DIFFER (integer arithmetic mirrored exactly in the
        // oracle SQL's // divisions)
        val tsAll = evs.map(_.getLong(1))
        val wmin = tsAll.min
        val span = tsAll.max - wmin
        def wOfTok(t: Long): Long = wmin + span / 2 + (t % 3) * (span / 8)
        // fixture invariants, RAISED if testdata generation drifts: real
        // aliasing, and a subject whose tokens carry DIFFERENT watermarks
        val bySubj = tokens.groupBy(subjOf)
        require(bySubj.values.exists(_.size > 1), "fixture: no aliased subject")
        require(span > 8 && bySubj.values.exists(_.map(_ % 3).distinct.size > 1),
          "fixture: no subject with divergent per-token watermarks")
        import s.implicits._
        val sink = tokens.map(t => (t, wOfTok(t))).toDF("tokenId", "wus")
          .select(col("tokenId"), expr("timestamp_micros(wus)").as("timestamp"))
        val dim = DeviceDim.fromPairs(s, tokens.map(t => (t, subjOf(t))))
        val opts = SyncOptions(tokens = tokens.map(_.toString),
          start = Some(new java.sql.Timestamp(0L)),
          stop = Some(new java.sql.Timestamp(9999999999999L)))
        withTempDirs("q243-staging") { case Seq(staging) =>
          withStub(docs, StubModes(pitMode = true)) { url =>
            val out = signalAggregate(SyncJob.runLiveRanged(s, url, dim,
              existingSink = Some(sink), opts, stagingDir = staging.toString,
              batchSize = 2000, censusRanges = 4, weightBySinkDepth = true))
              .localCheckpoint(true) // materialize THROUGH the staged plan
            // the staging contract, RAISED: exactly ONE line per subject —
            // stops at the ceil-ms of the subject's MAX token watermark,
            // weights at the subject's SUMMED sink depth (1 row per token)
            def staged(name: String): Seq[String] = {
              val f = java.nio.file.Files.list(staging.resolve(name)).iterator().asScala
                .find(_.getFileName.toString.startsWith("part-")).get
              java.nio.file.Files.readAllLines(f).asScala.filter(_.nonEmpty).toSeq
            }
            val subjects = bySubj.keys.toSeq.sorted
            val wantStops = subjects.map { sub =>
              val stopMs = (bySubj(sub).map(wOfTok).max + 999L) / 1000L
              s"$sub\t$stopMs"
            }
            require(staged("stops") == wantStops,
              s"stops must stage ONE max-watermark line per subject: ${staged("stops")}")
            val wantWeights = subjects.map(sub => s"$sub\t${bySubj(sub).size}")
            require(staged("weights") == wantWeights,
              s"weights must stage ONE summed-depth line per subject: ${staged("weights")}")
            out
          }
        }
      },
      Some("""WITH e AS (
               SELECT 'v' || CAST(user_id // 2 AS VARCHAR) AS subj,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                      CAST(round(value*100) AS BIGINT) AS cents
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
             b AS (SELECT min(us) AS wmin, max(us) - min(us) AS span FROM e),
             tok AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS token_id,
                            'v' || CAST(user_id // 2 AS VARCHAR) AS subj
                     FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
             wm AS (SELECT token_id, subj,
                           wmin + span // 2 + (token_id % 3) * (span // 8) AS w
                    FROM tok, b),
             x AS (SELECT wm.token_id, e.cents, e.us
                   FROM wm JOIN e ON e.subj = wm.subj WHERE e.us < wm.w)
             SELECT token_id, (count(*) * 2)::BIGINT AS n_signals,
               sum(cents)::BIGINT AS speed_sum,
               CAST(min(us) AS BIGINT) AS oldest_us,
               CAST(max(us) AS BIGINT) AS newest_us
             FROM x GROUP BY 1"""),
    ),

    // ── The reference's CONTINUOUS pipeline over BOTH wires (r14):
    //    `readStream` from live ES → transform → `writeStream` into live
    //    CH (its loop tails ES and inserts into CH forever, sync.go:92-125
    //    + clickhouse.go:113-130) — the streaming WRITE completing the
    //    tier's symmetry (both live sources stream-read; the CH side now
    //    stream-writes). Phase 1 tails the older half of history into the
    //    CH stub; the stream RESTARTS from its checkpoint after the newer
    //    half lands and must ship ONLY it. Exactly-once is the tail's
    //    monotonic offsets composed with the writer's epoch-scoped dedup
    //    tokens — a re-read duplicates, an offset overshoot loses, a
    //    replayed epoch double-inserts, and any of them breaks the DuckDB
    //    match on the CH read-back (one pass over the whole events table).
    QueryDef(
      "q232_live_stream_es_to_ch",
      (s, d) => {
        // ms-boundary split: the ES tail's offsets are ms-granular
        val (newer, older) = halves(seedRows(s, d), ms = true)
        // phase 2 = phase 1's docs + the newer half
        val (docs1, docs2) = generations(older, newer,
          DocForm("sc", CentsData, id = IdForm.Keyed))
        withSignalTable() { chUrl =>
          withTempDirs("q232-ck") { case Seq(ck) =>
            val ckpt = ck.toString
            def pipeOnce(docs: IndexedSeq[StubDoc]): Unit = withStub(docs) { esUrl =>
              // slices=8 (r19): parallel window-cut drain per micro-batch —
              // the q217 rationale; the CH writer inherits the 8-way read
              // partitioning, so inserts overlap the drain too.
              val q = s.readStream.format("graft-status-live")
                .option("url", esUrl)
                .option("batchSize", "2000").option("slices", "8").load()
                .select(col("subject").cast(LongType).as("token_id"),
                  col("time").as("timestamp"),
                  lit("cents").as("name"),
                  get_json_object(col("data"), "$.cents").cast("double").as("value_number"),
                  col("id").cast("string").as("value_string"))
                .writeStream.format("graft-signal-live")
                .option("url", chUrl)
                .option("checkpointLocation", ckpt)
                .start()
              try q.processAllAvailable() finally q.stop()
            }
            pipeOnce(docs1) // phase 1: the older half
            pipeOnce(docs2) // phase 2: restart; only the newer half ships
            s.read.format("graft-signal-live").option("url", chUrl).load()
              .groupBy(col("token_id"))
              .agg(count(lit(1)).as("n_rows"),
                sum(col("value_number")).cast(LongType).as("cents"),
                expr("max(unix_micros(timestamp))").as("newest_us"))
              .localCheckpoint(true) // materialize THROUGH both wire stacks
          }
        }
      },
      Some("""SELECT CAST(user_id AS BIGINT) AS token_id,
               count(*)::BIGINT AS n_rows,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents,
               CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS newest_us
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1"""),
    ),

    // ── Quantile-BALANCED token-range planning (r14): equal-width ranges
    //    over [min, max] collapse under id skew — one sparse outlier
    //    stretches the span a billion-fold and every real row lands in
    //    one task (at 100 TB: one task scans everything, the rest idle).
    //    Planning now asks the STORE for equal-rowcount cut points
    //    (`quantiles(1/m…)(token_id)` under the scan's WHERE) and builds
    //    ranges between them; a quantile-less server degrades to
    //    equal-width (one failed statement, never a wrong plan). The
    //    entry seeds the events fleet PLUS a far outlier token, RAISES
    //    unless the planned ranges are balanced (no partition owns >55%
    //    of rows) AND cover exactly, then reads back through the DSv2
    //    scan for the oracle compare.
    QueryDef(
      "q233_live_ch_balanced",
      (s, d) => {
        import graft.sources.ClickHouseHttpClient
        val signals = chSignals(s, d)
          .union(s.range(1).select( // the skew: one token a billion away
            lit(1000000000L).as("token_id"),
            lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")).as("timestamp"),
            lit("outlier").as("name"),
            lit(42.0).as("value_number"),
            lit("o1").cast(StringType).as("value_string")))
          .repartition(8)
        withSignalTable() { base =>
          signals.write.format("graft-signal-live")
            .option("url", base).mode("append").save()
          // plan audit: the ranges the scan would run, executed directly —
          // balance AND exact coverage are REQUIRED before any oracle math
          val scan = new graft.sources.SignalLiveScanBuilder(base, "signal", 4)
            .build().asInstanceOf[graft.sources.SignalLiveScan]
          val client = new ClickHouseHttpClient(base)
          val counts = scan.planInputPartitions().toSeq
            .map(_.asInstanceOf[graft.sources.SignalLivePartition])
            .map(p => client.query(p.sql).size.toLong)
          val total = counts.sum
          require(counts.forall(_ > 0), s"empty partition under skew: $counts")
          require(counts.max.toDouble / total < 0.55,
            s"one task owns the skewed corpus (equal-width plan leaked): $counts")
          s.read.format("graft-signal-live")
            .option("url", base).option("partitions", "4").load()
            .groupBy(col("name"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("value_number")).cast(LongType).as("cents"),
              max(col("token_id")).as("max_token"))
            .localCheckpoint(true) // materialize THROUGH the balanced plan
        }
      },
      Some("""WITH sig AS (
               SELECT CAST(user_id AS BIGINT) AS token_id, event_type AS name,
                      CAST(round(value*100) AS BIGINT) AS cents
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
               UNION ALL SELECT 1000000000, 'outlier', 42)
             SELECT name, count(*)::BIGINT AS n_rows,
               sum(cents)::BIGINT AS cents,
               max(token_id)::BIGINT AS max_token
             FROM sig GROUP BY 1"""),
    ),

    // ── SUB-TOKEN timestamp cuts (r15): q233 balances across token
    //    boundaries, but the commonest real skew is SINGLE-KEY — one hot
    //    device owning most of the table, which no token-granular cut can
    //    split (the quantiles collapse onto it and its whole history
    //    lands in one task). Planning now detects the collapse (a raw
    //    quantile value repeated ≥2 times — at m=4 even a 60%-of-rows
    //    token repeats only twice, SignalLiveSource), asks the store for that
    //    token's TIMESTAMP quantiles, and plans
    //    `token_id = hot AND ts ∈ [a,b)` partitions — still index-local
    //    reads (the primary key is (token_id, timestamp)), still
    //    disjoint and gap-free. The entry seeds ~90% of rows into one
    //    token, RAISES unless the hot token actually planned ≥2
    //    timestamp sub-ranges AND no partition owns >55% of rows, then
    //    reads back through the DSv2 scan for the oracle compare.
    QueryDef(
      "q235_live_ch_subtoken",
      (s, d) => {
        import graft.sources.ClickHouseHttpClient
        val signals = chSignals(s, d,
          // the skew: ~90% of users fold into token 7 (one hot device)
          token = when(col("user_id") % 10 =!= 0, lit(7L)).otherwise(col("user_id").cast(LongType)))
          .repartition(8)
        withSignalTable() { base =>
          signals.write.format("graft-signal-live")
            .option("url", base).mode("append").save()
          // plan audit BEFORE any oracle math: the hot token must have
          // split by timestamp, and the split must actually balance
          val scan = new graft.sources.SignalLiveScanBuilder(base, "signal", 4)
            .build().asInstanceOf[graft.sources.SignalLiveScan]
          val client = new ClickHouseHttpClient(base)
          val parts = scan.planInputPartitions().toSeq
            .map(_.asInstanceOf[graft.sources.SignalLivePartition])
          require(parts.count(_.sql.contains("`token_id` = 7 AND `timestamp`")) >= 2,
            s"hot token kept one task (sub-token cuts did not plan): ${parts.map(_.sql)}")
          val counts = parts.map(p => client.query(p.sql).size.toLong)
          val total = counts.sum
          require(counts.forall(_ > 0), s"empty partition under single-key skew: $counts")
          require(counts.max.toDouble / total < 0.55,
            s"one task owns the hot token's history: $counts")
          s.read.format("graft-signal-live")
            .option("url", base).option("partitions", "4").load()
            .groupBy(col("name"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("value_number")).cast(LongType).as("cents"),
              countDistinct(col("token_id")).as("n_tokens"),
              expr("max(unix_micros(timestamp))").as("newest_us"))
            .localCheckpoint(true) // materialize THROUGH the sub-token plan
        }
      },
      Some("""SELECT event_type AS name, count(*)::BIGINT AS n_rows,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents,
               count(DISTINCT CASE WHEN user_id % 10 <> 0 THEN 7
                                   ELSE user_id END)::BIGINT AS n_tokens,
               CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS newest_us
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1"""),
    ),

    // ── LIVE CH streaming tail (r13): `readStream` over
    //    `graft-signal-live` — the CH-side twin of q217, completing the
    //    live tier's symmetry (every live source is a streaming table).
    //    Offsets are the server's own `count(), max(timestamp)` aggregate;
    //    phase 1 tails a store holding only the OLDER half of history into
    //    a parquet sink, then the stream RESTARTS from its checkpoint
    //    after the newer half lands and must read ONLY it (a re-read
    //    duplicates, an offset overshoot loses — either breaks the oracle
    //    on the final sink, which must equal exactly one pass over the
    //    whole events table).
    QueryDef(
      "q223_live_ch_stream_tail",
      (s, d) => {
        import graft.sources.{ClickHouseDdl, ClickHouseHttpClient, SignalLiveSource}
        // split by VALUE at the micro midpoint: halves never share a
        // microsecond, so the phase-2 floor (olderMax + 1µs) is exact
        val (older, newer) = signalHalves(chSignals(s, d))
        withServer(ChSignalStub.start()) { url =>
          val client = new ClickHouseHttpClient(url)
          client.execute(ClickHouseDdl.signalTableDdl(SignalLiveSource.Schema))
          withTempDirs("q223-out", "q223-ck") { case Seq(out, ck) =>
            val outDir = out.toString + "/tail"
            val ckpt = ck.toString
            def tailOnce(): Unit = {
              val q = s.readStream.format("graft-signal-live")
                .option("url", url).option("partitions", "4").load()
                .select(col("token_id"), expr("unix_micros(timestamp)").as("us"),
                  col("value_number"))
                .writeStream.format("parquet")
                .option("path", outDir).option("checkpointLocation", ckpt)
                .start()
              try q.processAllAvailable() finally q.stop()
            }
            // each phase is its own logical run, tagged by (table, window
            // identity): a re-submitted phase would dedup end-to-end
            client.insertSignals(older, "signal",
              runTag = Some(ClickHouseHttpClient.jobRunTag("signal", "q223-older-half")))
            tailOnce() // phase 1: the older half
            client.insertSignals(newer, "signal",
              runTag = Some(ClickHouseHttpClient.jobRunTag("signal", "q223-newer-half")))
            tailOnce() // phase 2: restart; only the newer half may arrive
            s.read.parquet(outDir)
              .groupBy(col("token_id"))
              .agg(count(lit(1)).as("n_rows"),
                sum(col("value_number")).cast(LongType).as("cents"),
                min(col("us")).as("oldest_us"),
                max(col("us")).as("newest_us"))
              .localCheckpoint(true)
          }
        }
      },
      Some("""SELECT CAST(user_id AS BIGINT) AS token_id,
               count(*)::BIGINT AS n_rows,
               sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents,
               CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS oldest_us,
               CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS newest_us
             FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
             GROUP BY 1""")
    )
  )
}
