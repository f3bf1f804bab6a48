package graft.sources

import java.time.Instant

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, LessThan}

/** Elasticsearch search-request generator: the READ-side twin of
  * [[ClickHouseDdl]]. [[StatusV2Source]] proves the pushdown seam
  * (equality + half-open time range + projection + limit reach the scan);
  * this object emits the EXACT request body the reference engine sends
  * for that same pushdown state — bool.filter = [match(subject),
  * range(time, gte/lt in epoch-millis strings)], size, sort time desc,
  * and, when specific signal fields are required, a `_source.includes`
  * projection plus `should: exists` clauses with `minimum_should_match: 1`
  * (reference: internal/service/elastic/elastic.go:46-108 — the
  * `GetRecordsSince` request construction). The day a live ES client is
  * permitted, the DSv2 scan's pushed filters translate through here
  * unmodified; until then the generator is the executable contract.
  */
object EsQueryDsl {

  /** Root document fields the reference always includes in `_source`
    * (elastic.go:70-71). */
  val RootFields: Seq[String] = Seq("subject", "dataschema", "id", "source", "time", "type")

  /** The JVM's one JSON mapper for the live read path: request bodies
    * here, response trees in [[EsHttpClient]], NDJSON lines in
    * [[LineDocSource]], signal decode in `explode_signals`. A configured
    * `ObjectMapper` is thread-safe, and sharing it warms its serializer
    * and deserializer caches once per JVM instead of once per scan task.
    */
  private[graft] val mapper = new ObjectMapper()

  private def toMillis(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime
    case i: Instant => i.toEpochMilli
    case l: Long => l
    case other => throw new IllegalArgumentException(s"unsupported time literal: $other")
  }

  /** Build the search request JSON for one page of the sync scan.
    *
    * @param filters the DSv2-pushed filters (subject equality and/or the
    *                half-open [gte, lt) time range — exactly what
    *                [[StatusScanBuilder.pushFilters]] accepts). Duplicate
    *                range conjuncts tighten (max of gte's, min of lt's) —
    *                Spark is free to push `time >= a AND time >= b`
    *                unsimplified, and dropping one bound widens the window.
    * @param requiredFields signal fields the explode stage needs; empty ⇒
    *                       full `_source` (reference behavior)
    * @param batchSize page size (`Size` in the reference request)
    * @param sortDesc  sort direction on `time` — the DSv2 seam's pushed
    *                  TopN state ([[StatusScanBuilder.pushTopN]]); the
    *                  reference always pages newest-first (elastic.go:65),
    *                  so `true` is the default
    * @param envelopeIncludes when `requiredFields` is empty, a PURE
    *                  projection (`_source.includes` WITHOUT the `exists`
    *                  should-clauses): the scan needs only these envelope
    *                  fields and must not change the row set. Empty ⇒ full
    *                  `_source`. Ignored when `requiredFields` is set —
    *                  the reference couples includes+exists there
    *                  (elastic.go:67-78).
    */
  def searchRequest(filters: Seq[Filter], requiredFields: Seq[String], batchSize: Int,
      sortDesc: Boolean = true, envelopeIncludes: Seq[String] = Seq.empty,
      trackTotalHits: Boolean = false): String = {
    val root = queryBody(filters, requiredFields, envelopeIncludes)
    if (trackTotalHits)
      // exact totals: without it ES caps hits.total at 10,000 and reports
      // relation "gte" — unusable for planner statistics (an under-reported
      // row count CAUSES a wrong broadcast, it does not prevent one)
      root.put("track_total_hits", true)
    root.put("size", batchSize)
    root.putArray("sort").addObject().putObject("time")
      .put("order", if (sortDesc) "desc" else "asc")
    mapper.writeValueAsString(root)
  }

  /** The tie-drain request: `search_after` pages ordered by `_id`
    * ascending within one tied timestamp — the fallback protocol for a
    * timestamp tie run WIDER than the largest servable page, which the
    * plain backward-paging loop cannot drain (and which the reference
    * silently skips, sync.go:151-155 [ext]). The window is the caller's
    * (one millisecond: [tieMs, tieMs + 1)); the cursor is the last hit's
    * `_id`; the projection clauses ride along unchanged so a configured
    * signal filter applies to drained pages too. A production ES 8 would
    * open a point-in-time and sort on `_shard_doc` for the same contract;
    * the `_id`-ascending cursor is the dependency-free form this client
    * speaks and the stubs model.
    */
  def searchAfterRequest(filters: Seq[Filter], requiredFields: Seq[String], size: Int,
      after: Option[String], envelopeIncludes: Seq[String] = Seq.empty): String = {
    val root = queryBody(filters, requiredFields, envelopeIncludes)
    root.put("size", size)
    root.putArray("sort").addObject().put("_id", "asc")
    after.foreach(a => root.putArray("search_after").add(a))
    mapper.writeValueAsString(root)
  }

  /** The shared `query.bool` + `_source` skeleton of every request. */
  private def queryBody(filters: Seq[Filter], requiredFields: Seq[String],
      envelopeIncludes: Seq[String]): ObjectNode = {
    val root = mapper.createObjectNode()
    val bool = root.putObject("query").putObject("bool")
    val filterArr = bool.putArray("filter")

    filters.collectFirst { case EqualTo("subject", v: String) => v }.foreach { subject =>
      filterArr.addObject().putObject("match").putObject("subject").put("query", subject)
    }
    // a pushed subject IN-set → one `terms` clause (the ES set-membership
    // query). Only the size-0 PROBES reach here with an IN: the row scan
    // fans an IN into per-subject page loops (each loop's filters carry
    // one EqualTo), so a terms clause never changes a row-scan request.
    // Multiple clauses AND-combine inside bool.filter — an EqualTo and a
    // terms both present intersect server-side, exactly the plan's
    // conjunction semantics.
    filters.foreach {
      case In("subject", vs) =>
        val arr = filterArr.addObject().putObject("terms").putArray("subject")
        vs.foreach { case s: String => arr.add(s); case _ => () }
      case _ => ()
    }
    val gte = filters.collect { case GreaterThanOrEqual("time", v) => toMillis(v) }
      .reduceOption(_ max _)
    val lt = filters.collect { case LessThan("time", v) => toMillis(v) }
      .reduceOption(_ min _)
    if (gte.isDefined || lt.isDefined) {
      val range: ObjectNode = filterArr.addObject().putObject("range").putObject("time")
      // the reference serializes epoch-millis as STRINGS (strconv.Itoa of
      // UnixMilli, elastic.go:48-49)
      gte.foreach(g => range.put("gte", g.toString))
      lt.foreach(l => range.put("lt", l.toString))
    }

    if (requiredFields.nonEmpty) {
      val should = bool.putArray("should")
      requiredFields.foreach { f =>
        should.addObject().putObject("exists").put("field", f)
      }
      bool.put("minimum_should_match", 1)
      val includes = root.putObject("_source").putArray("includes")
      (RootFields ++ requiredFields).foreach(includes.add)
    } else if (envelopeIncludes.nonEmpty) {
      val includes = root.putObject("_source").putArray("includes")
      envelopeIncludes.foreach(includes.add)
    }
    root
  }

  /** The PIT drain request — the form a production ES 8 serves natively:
    * a point-in-time id pins the snapshot, `sort: [{"_shard_doc":"asc"}]`
    * gives a total order every index supports WITHOUT fielddata (real ES
    * rejects sorting on `_id`), and `search_after` carries the last
    * hit's own `sort` VALUES verbatim. Same `query.bool` window and
    * projection clauses as every other request. Note: with a `pit` the
    * request posts to `{base}/_search` (no index in the path — the PIT
    * already names it).
    */
  def pitSearchAfterRequest(filters: Seq[Filter], requiredFields: Seq[String], size: Int,
      pitId: String, after: Option[com.fasterxml.jackson.databind.JsonNode],
      envelopeIncludes: Seq[String] = Seq.empty,
      slice: Option[(Int, Int)] = None,
      keepAlive: String = "1m"): String = {
    val root = queryBody(filters, requiredFields, envelopeIncludes)
    root.put("size", size)
    val pit = root.putObject("pit")
    pit.put("id", pitId)
    // every PIT request REFRESHES the keep-alive, so it bounds the gap
    // between requests, not the scan's total length — raised via the
    // `pitKeepAlive` wire option for stall-prone downstreams
    pit.put("keep_alive", keepAlive)
    root.putArray("sort").addObject().put("_shard_doc", "asc")
    // sliced search (the parallel-scan form): `slice: {id, max}` makes the
    // server partition the PIT's documents into `max` DISJOINT subsets —
    // each Spark partition drains its own subset concurrently, the
    // server's guarantee (not the client's) being that every document
    // lands in exactly one slice
    slice.foreach { case (i, n) =>
      val sl = root.putObject("slice")
      sl.put("id", i)
      sl.put("max", n)
    }
    after.foreach(a =>
      root.set[com.fasterxml.jackson.databind.JsonNode](
        "search_after", a.deepCopy[com.fasterxml.jackson.databind.JsonNode]()))
    mapper.writeValueAsString(root)
  }

  /** The grouped-count probe: a `size: 0` `terms` aggregation over one
    * keyword field, under the same `query.bool` body as the row scan —
    * `groupBy(subject).count()` answered by ONE request whose buckets are
    * the per-key doc counts. `termsSize` bounds the bucket count the
    * server returns; the CALLER must verify exactness
    * (`doc_count_error_upper_bound == 0` AND `sum_other_doc_count == 0`)
    * before trusting the buckets — a terms agg is approximate by design
    * when keys spill past `size` or shards disagree, and an approximate
    * group count must reject the pushdown, not ship wrong answers
    * ([[EsHttpClient.groupCountsFor]] enforces this). Note the agg itself
    * only buckets documents CARRYING the field — the pushdown layer pairs
    * it with a pushed `IS NOT NULL`/equality on the same field so the row
    * scan it replaces has no null group either.
    */
  def termsCountRequest(filters: Seq[Filter], field: String, termsSize: Int): String = {
    val root = queryBody(filters, Seq.empty, Seq.empty)
    root.put("size", 0)
    val terms = root.putObject("aggs").putObject("group_counts").putObject("terms")
    terms.put("field", field)
    terms.put("size", termsSize)
    mapper.writeValueAsString(root)
  }

  /** `size: 0` max-time aggregation — the streaming tail's offset probe:
    * the server's own newest event time bounds the next micro-batch's
    * half-open window (no client clock involved, so batches are
    * deterministic against any corpus).
    */
  def maxTimeRequest: String =
    """{"size":0,"aggs":{"max_time":{"max":{"field":"time"}}}}"""

  /** `size: 0` `percentiles` aggregation over `time` under the same
    * `query.bool` body as the row scan — the PIT-LESS parallel drain's
    * cut probe: the returned positions become half-open window
    * BOUNDARIES, so unlike [[termsCountRequest]]'s counts an
    * APPROXIMATE estimate is fine here — the tiles partition
    * [start, stop) exactly wherever the cuts land; a bad estimate only
    * unbalances the tiles, never the rows. `keyed: false` for
    * positional parsing.
    */
  def timePercentilesRequest(filters: Seq[Filter], percents: Seq[Double]): String = {
    val root = queryBody(filters, Seq.empty, Seq.empty)
    root.put("size", 0)
    val pct = root.putObject("aggs").putObject("time_cuts").putObject("percentiles")
    pct.put("field", "time")
    pct.put("keyed", false)
    val arr = pct.putArray("percents")
    percents.foreach(arr.add)
    mapper.writeValueAsString(root)
  }

  /** `_msearch` NDJSON framing: one empty header line + one single-line
    * body per search (the index rides the URL path, so headers carry
    * nothing), newline-terminated — the standard multi-search grammar.
    * Jackson serialization above is single-line by construction, which
    * the NDJSON frame depends on.
    */
  def msearchBody(bodies: Seq[String]): String =
    bodies.iterator.map(b => "{}\n" + b + "\n").mkString
}
