package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, IsNotNull, LessThan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** LIVE Elasticsearch status source (`graft-status-live`) — the same table
  * as `graft-status` (NDJSON snapshots) but read over the WIRE: each task
  * drives [[EsHttpClient.pagedLines]] (the reference's backward-paging
  * `_search` loop, elastic.go:46-108 / sync.go:108-155 [ext]) and feeds
  * the pages into the SAME parser, predicate evaluator and malformed-line
  * policy the file source uses ([[StatusPartitionReader]] over a
  * [[LineSource]]) — one decode path, two transports.
  *
  * Pushdown: subject equality and the half-open time range reach the
  * REQUEST BODY itself (via [[EsQueryDsl]] — the ES-side filter, not a
  * client-side one); duplicate range conjuncts tighten (max of `>=`, min
  * of `<`) and multiple subject constraints INTERSECT before planning.
  * Every accepted filter — including `IS NOT NULL` — is additionally
  * re-evaluated client-side by the shared [[StatusPartitionReader]], so
  * acceptance never exceeds enforcement. Projection: with the `signals`
  * option set, the required signal columns become the `_source.includes`
  * projection + `exists` should-clauses + `minimum_should_match: 1` —
  * the reference's required-fields contract (sync.go:236-256 [ext] →
  * elastic.go:67-78 [ext]; note this also drops documents carrying NONE
  * of the requested signals, exactly as the reference's sync does);
  * without it, a scan whose pruned schema excludes `data` requests only
  * the envelope fields (`_source.includes` WITHOUT `exists` — a pure
  * projection that cannot change the row set), and a scan needing `data`
  * requests full `_source` (reference behavior when no signal filter is
  * configured). Parallelism: with a pushed subject IN-set the scan plans
  * one partition per GROUP of subjects (at most 2 × the session's
  * default parallelism) — the reference's per-token goroutine fan-out
  * (sync.go:60-84 [ext]) as a BOUNDED task census sized to the cores:
  * a 1000-executor cluster drains device-parallel without turning
  * a million-device fleet into a million concurrent page loops against
  * the live cluster. A single-subject or unfiltered scan is one task (the
  * reference is sequential there too).
  *
  * Options: `url` (required), `index` (default `device-status`),
  * `batchSize` (default 1000, page size — halved on Data-too-large like
  * the reference), `startMs`/`stopMs` (window defaults when no time
  * predicate pushes; stop defaults to a fixed far-future bound so results
  * stay deterministic), `signals` (comma-separated VSS names — the
  * reference's configured signal filter; unknown names drop, whitespace
  * trims, sync.go:246), `stopBySubject` (inline JSON per-subject stops),
  * and the FLEET-SCALE side-channel pair `stopBySubjectPath` /
  * `subjectsPath`: files the TABLE consumes once at load() (the watermark
  * map as `subject<TAB>stopMs` lines and the subject census as one
  * subject per line, [[StatusLiveSource.writeStops]] /
  * [[StatusLiveSource.writeSubjects]]), so a million-token sync never
  * rides a ~30 MB JSON string through catalog properties — each task
  * still receives only its own group's slice, and the caller may delete
  * the staged files as soon as load() returns. `slices` (default 1):
  * parallel drains — the whole-window scan fans N tasks over one
  * driver-opened PIT snapshot, and subject-constrained scans fan each
  * HOT subject (past `hotSubjectPages` pages by the terms probe,
  * default 8) across N slices while cold subjects keep their loops; a
  * PIT-LESS server (ES 7 posture) parallelizes the same shapes through
  * TIME-WINDOW CUTS at the server's own `time` percentiles instead —
  * filter-disjoint half-open tiles, no snapshot required — and with no
  * percentiles support either keeps the sequential loops.
  * `censusRanges` (default 0 = off): the O(groups) MEGA-FLEET form of
  * the staged census — the planner records one byte range per group
  * instead of materializing a per-token map (~2.1 GB at 10M tokens) and
  * each task reads its own slice of the staged files; the files must
  * then OUTLIVE the scan's execution and be executor-readable (shared
  * storage / `--files`) — see [[RangedCensus]]. `hotSubjectsPath`
  * (ranged mode only): a small staged file of KNOWN deep-history
  * subjects — each is carved out of its byte-range tile and drained in
  * parallel instead (sliced-PIT fan-out under `slices` > 1, an isolated
  * per-subject task otherwise), so one whale no longer straggles its
  * equal-subject-count group. `censusWeightsPath` (ranged mode only): a
  * strictly-sorted `subject<TAB>weight` staged file — group boundaries
  * fall at equal CUMULATIVE weight instead of equal subject count, so a
  * moderately-skewed fleet balances without naming every heavy device
  * in a hot-list; missing subjects weigh 1, strays are inert.
  * `pitReleaseAtQueryEnd` (default true):
  * opened PITs are closed the moment an action on the scan completes —
  * the production posture (a raised keep-alive no longer holds server
  * search contexts after every read). The trade is a SECOND action on
  * the same sliced Dataset (`ds.collect()` then `ds.count()`): Spark
  * reuses the cached physical plan whose partitions carry the released
  * PIT id, so it fails loudly (`search_context_missing`, with the
  * remedy in the message). Multi-action consumers should `cache()` /
  * `localCheckpoint()` the first action's result or re-derive the
  * Dataset — or set this option false to keep the keep-alive-only
  * lifecycle, where repeated actions work for `pitKeepAlive` after the
  * last request (superseded plans and stream stop() still release).
  */
class StatusLiveSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-status-live"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = StatusV2Source.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // censusRanges WITHOUT a census is a contradiction — and it must not
    // quietly fall back while ALSO skipping the stops-file read (a
    // silently dropped watermark map overships past every stop)
    require(!Option(properties.get("censusRanges")).exists(_.toInt > 0) ||
      properties.get("subjectsPath") != null,
      "censusRanges requires subjectsPath (the staged census the ranges partition)")
    // a hot-list outside ranged mode would be silently ignored — the
    // constrained paths probe hot subjects themselves (q234 machinery)
    require(properties.get("hotSubjectsPath") == null ||
      Option(properties.get("censusRanges")).exists(_.toInt > 0),
      "hotSubjectsPath composes with censusRanges (subject-constrained scans probe " +
        "hot subjects themselves via the terms probe)")
    // weights only move RANGED group boundaries; anywhere else they would
    // be silently ignored — refuse rather than let a caller believe a
    // load-balanced plan is in effect
    require(properties.get("censusWeightsPath") == null ||
      Option(properties.get("censusRanges")).exists(_.toInt > 0),
      "censusWeightsPath composes with censusRanges (it places the byte-range " +
        "group boundaries at equal cumulative weight)")
    new StatusLiveTable(
      Option(properties.get("url")).getOrElse(
        throw new IllegalArgumentException("graft-status-live requires option url")),
      Option(properties.get("index")).getOrElse("device-status"),
      Option(properties.get("batchSize")).map(_.toInt).getOrElse(1000),
      Option(properties.get("startMs")).map(_.toLong).getOrElse(0L),
      Option(properties.get("stopMs")).map(_.toLong).getOrElse(StatusLiveSource.DefaultStopMs),
      Option(properties.get("signals")).map(_.split(",").toSeq),
      {
        // the staged side-channel files are consumed HERE, eagerly (load()
        // resolves the table): the caller may delete them the moment load()
        // returns — a cron-cadence sync never accumulates staging files —
        // and what the driver retains is exactly the per-token state the
        // reference's own loop holds in memory (sync.go:61-100 [ext]).
        // EXCEPT under `censusRanges` (the O(groups) mega-fleet form):
        // there the files are NOT read here — the planner records group
        // byte ranges and each task reads ITS slice, so the files must
        // outlive the scan's execution (the caller owns that lifetime).
        val ranged = Option(properties.get("censusRanges")).exists(_.toInt > 0)
        Option(properties.get("stopBySubject")).map(StatusLiveSource.parseStops)
          .getOrElse(Map.empty) ++
          (if (ranged) Map.empty
          else Option(properties.get("stopBySubjectPath"))
            .map(StatusLiveSource.readStops).getOrElse(Map.empty))
      },
      if (Option(properties.get("censusRanges")).exists(_.toInt > 0)) None
      else Option(properties.get("subjectsPath")).map(StatusLiveSource.readSubjects),
      Option(properties.get("termsSize")).map(_.toInt)
        .getOrElse(EsHttpClient.MaxTermsSize),
      LiveWire.fromOptions(k => Option(properties.get(k))),
      Option(properties.get("slices")).map(_.toInt).getOrElse(1),
      Option(properties.get("hotSubjectPages")).map(_.toInt).getOrElse(8),
      for {
        g <- Option(properties.get("censusRanges")).map(_.toInt) if g > 0
        path <- Option(properties.get("subjectsPath"))
      } yield RangedCensus(path, Option(properties.get("stopBySubjectPath")), g,
        Option(properties.get("hotSubjectsPath")),
        Option(properties.get("censusWeightsPath"))),
      Option(properties.get("pitReleaseAtQueryEnd")).forall(_.toBoolean))
  }
}

object StatusLiveSource {
  /** Fixed far-future default stop (year ~2286) — deterministic, unlike
    * wall-clock "now".
    */
  val DefaultStopMs: Long = 9999999999999L

  /** Parse the `stopBySubject` option: a JSON object of per-subject
    * EXCLUSIVE stop millis, e.g. `{"42":1700000000000}` — the reference's
    * per-token EndTime (the oldest-synced watermark, sync.go:96-100
    * [ext]). Applied as `min(stopMs, stopBySubject(subject))` per subject
    * PAGE LOOP, so an incremental sync ships only each token's unsynced
    * prefix over the wire instead of re-downloading the full window and
    * filtering in the plan. Requires a pushed subject set (per-subject
    * windows need per-subject requests); ignored — never wrong — on an
    * unfiltered scan.
    */
  private[graft] def parseStops(json: String): Map[String, Long] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    require(node.isObject, s"stopBySubject must be a JSON object, got: $json")
    val b = Map.newBuilder[String, Long]
    node.fields().forEachRemaining(e => b += (e.getKey -> e.getValue.asLong()))
    b.result()
  }

  /** Render the `stopBySubject` option value. */
  def stopsJson(stops: Map[String, Long]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    stops.toSeq.sortBy(_._1).foreach { case (s, v) => node.put(s, v) }
    mapper.writeValueAsString(node)
  }

  /** Stage a watermark map for the `stopBySubjectPath` option: one
    * `subject<TAB>stopMs` line per subject, sorted in UTF-8 byte order
    * ([[utf8Lt]], the order the ranged planner verifies) — the same file
    * [[graft.jobs.SyncJob.runLive]] stages on the cluster with a
    * single-partition `write.text`. Streamed line by line, so a
    * million-token map never materializes as one driver-side string.
    * Subjects must keep the [[writeSubjects]] newline framing contract.
    */
  def writeStops(stops: Map[String, Long], path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path),
      java.nio.charset.StandardCharsets.UTF_8)
    try stops.toSeq.sortWith((a, b) => utf8Lt(a._1, b._1)).foreach { case (s, ms) =>
      requireFramed(s)
      w.write(s); w.write('\t'); w.write(ms.toString); w.write('\n')
    }
    finally w.close()
  }

  /** Read a staged `subject<TAB>stopMs` watermark map (planner-side, once
    * per scan). Only the LAST tab splits, so a tab inside a subject parses
    * intact.
    */
  private[graft] def readStops(path: String): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    eachLineWithOffset(path)((line, _) => b += parseStopLine(line))
    b.result()
  }

  /** One `subject<TAB>stopMs` line of a staged stops file. */
  private def parseStopLine(line: String): (String, Long) = {
    val tab = line.lastIndexOf('\t')
    require(tab > 0, s"stopBySubjectPath line is not subject<TAB>ms: $line")
    line.substring(0, tab) -> line.substring(tab + 1).toLong
  }

  /** Stage a subject census for the `subjectsPath` option: one subject
    * per line, the planner's input for per-subject page-loop fan-out when
    * the census is too large to ride as a pushed IN-set expression.
    *
    * NEWLINE FRAMING CONTRACT: staged subjects must not contain `\n` or
    * `\r` — the files are line-framed and a frame byte inside a subject
    * splits it into phantom lines whose terms match nothing, silently
    * UNDER-shipping that subject's documents. Validated here (and
    * in-plan at the cluster-staged writes) so the failure is loud at
    * staging, not a missing-rows mystery at read. Tabs are safe: the
    * tabbed forms parse by `lastIndexOf('\t')`.
    */
  def writeSubjects(subjects: Seq[String], path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path),
      java.nio.charset.StandardCharsets.UTF_8)
    try subjects.foreach { s => requireFramed(s); w.write(s); w.write('\n') }
    finally w.close()
  }

  /** The newline framing guard of the driver-side staging writers. */
  private def requireFramed(subject: String): Unit =
    require(!subject.contains('\n') && !subject.contains('\r'),
      s"staged subject breaks the newline framing contract (contains \\n or \\r): " +
        subject.replace("\n", "\\n").replace("\r", "\\r"))

  /** Read a staged subject census (planner-side, once per scan). */
  private[graft] def readSubjects(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path),
      java.nio.charset.StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)
  }

  /** One byte-range group of a ranged census plan: `[cStart, cEnd)` of
    * the census file and `[sStart, sEnd)` of the stops file (0,0 when no
    * stops file).
    */
  private[graft] case class CensusRange(cStart: Long, cEnd: Long, sStart: Long, sEnd: Long)

  /** Stream a staged file's non-empty lines with their BYTE offsets
    * (O(1) memory — the mega-fleet planner pass must not materialize a
    * line per token); returns the file's total byte length.
    */
  private def eachLineWithOffset(path: String)(f: (String, Long) => Unit): Long = {
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try {
      // chunked newline scan, not per-byte reads: a 10M-token census is
      // ~360 MB and this walk runs up to three times per planning pass
      val chunk = new Array[Byte](1 << 16)
      val carry = new java.io.ByteArrayOutputStream(64)
      var lineStart = 0L
      var pos = 0L
      var n = in.read(chunk)
      while (n != -1) {
        var i = 0
        var segStart = 0
        while (i < n) {
          if (chunk(i) == '\n') {
            carry.write(chunk, segStart, i - segStart)
            if (carry.size() > 0)
              f(new String(carry.toByteArray, java.nio.charset.StandardCharsets.UTF_8),
                lineStart)
            carry.reset()
            lineStart = pos + i + 1
            segStart = i + 1
          }
          i += 1
        }
        carry.write(chunk, segStart, n - segStart)
        pos += n
        n = in.read(chunk)
      }
      if (carry.size() > 0)
        f(new String(carry.toByteArray, java.nio.charset.StandardCharsets.UTF_8), lineStart)
      pos
    } finally in.close()
  }

  /** Strict UTF-8 byte order (= code-point order) — the order Spark's
    * UTF8String binary sort STAGED the files in. Java `String` `<` is
    * UTF-16 code-unit order, which disagrees exactly where a surrogate
    * pair meets a BMP char in [U+E000, U+FFFF]: a non-BMP subject (lead
    * surrogate 0xD800–0xDBFF) compares BELOW U+E000+ under compareTo
    * but ABOVE it in UTF-8 bytes (4-byte 0xF0+ lead vs 3-byte 0xEE/0xEF)
    * — so the planner's sortedness validation must compare the way the
    * writer sorted, or such fleets spuriously fail the strict require.
    */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    i >= a.length && j < b.length // a strict prefix sorts first
  }

  /** Streaming merge cursor over a strictly-sorted `subject<TAB>long`
    * file — the weights file's side of the census lockstep walk
    * ([[planCensusRangesHot]]). Callers present subjects in the files'
    * own UTF-8 order, so one forward pass serves every lookup: strays
    * (weights for subjects outside the census) skip inert, absences
    * return `default`. Validates strict sortedness and positive values
    * as it goes — a zero/negative weight or an unsorted line is a
    * staging bug that must fail loudly, not quietly misplace a boundary.
    */
  private final class SortedWeightCursor(path: String, default: Long) {
    private val reader = java.nio.file.Files.newBufferedReader(
      java.nio.file.Paths.get(path), java.nio.charset.StandardCharsets.UTF_8)
    private var curSubj: String = null
    private var curVal: Long = default
    private var prev: String = null
    // the first advance is LAZY (first valueFor, inside the caller's
    // try/finally) — advance() validates and can throw, and a throw in
    // the constructor would leak the just-opened reader
    private var started = false
    private def advance(): Unit = {
      var line = reader.readLine()
      while (line != null && line.isEmpty) line = reader.readLine()
      if (line == null) { curSubj = null; return }
      val tab = line.lastIndexOf('\t')
      require(tab > 0, s"censusWeightsPath line is not subject<TAB>weight: $line")
      val subj = line.substring(0, tab)
      require(prev == null || utf8Lt(prev, subj),
        s"censusWeightsPath requires a STRICTLY sorted weights file (unique subjects, " +
          s"UTF-8 byte order): '$prev' precedes '$subj' in $path")
      prev = subj
      val v = line.substring(tab + 1).toLong
      require(v > 0L, s"censusWeightsPath weight for '$subj' must be positive, got $v")
      curSubj = subj
      curVal = v
    }
    /** Weight for `subject` (callers ascend in UTF-8 order). */
    def valueFor(subject: String): Long = {
      if (!started) { started = true; advance() }
      while (curSubj != null && utf8Lt(curSubj, subject)) advance() // inert strays
      if (curSubj != null && curSubj == subject) { val v = curVal; advance(); v }
      else default
    }
    def close(): Unit = reader.close()
  }

  /** The O(groups) planner pass over the SORTED staged files: two
    * streaming reads of the census (line count, then one boundary offset
    * per group) and one of the stops file (merge-walked in lockstep —
    * both files sort by subject, so group g's stops range is
    * [first stops line ≥ g's first subject, first stops line ≥ g+1's) —
    * an exact partition of the stops file in which every stop for a
    * group-g subject lies in group g's range; strays outside any group's
    * subject set are inert, tasks look stops up BY SUBJECT). Driver
    * state: O(groups) offsets — never a map entry per token.
    *
    * NEWLINE FRAMING CONTRACT: all staged inputs (census, stops,
    * weights, hot-list) are newline-framed — subjects must contain no
    * `\n`/`\r`. The staging writers enforce this loudly
    * ([[writeSubjects]]; the cluster writes guard in-plan); a frame
    * byte smuggled past them would split a subject into phantom census
    * lines that match nothing and silently under-ship its documents.
    */
  private[graft] def planCensusRanges(censusPath: String, stopsPath: Option[String],
      groups: Int): Seq[CensusRange] =
    planCensusRangesHot(censusPath, stopsPath, groups, Set.empty).ranges

  /** A ranged plan with the caller-supplied hot-list resolved against the
    * staged files: `hotPresent` — the hot subjects the census actually
    * contains (in census order; a listed subject absent from the fleet
    * plans nothing), and `hotStops` — those subjects' watermarks lifted
    * out of the stops file. Both ride the SAME walks the sortedness
    * check already makes — zero extra passes. The byte-range tiles are
    * UNCHANGED by the hot-list (hot lines stay inside their tiles; the
    * task-side `excludeSubjects` filter is what keeps a tile from
    * looping a whale the planner drains in parallel) — so every tiling
    * invariant holds with or without a hot-list.
    */
  private[graft] case class RangedHotPlan(ranges: Seq[CensusRange],
      hotPresent: Seq[String], hotStops: Map[String, Long])

  /** `weightsPath` (the LOAD-BALANCED form): a strictly-sorted
    * `subject<TAB>weight` file — typically each token's sink depth,
    * staged by the cluster exactly like the stops file
    * ([[graft.jobs.SyncJob.runLiveRanged]] `weightBySinkDepth`). Group
    * boundaries then fall at equal CUMULATIVE WEIGHT instead of equal
    * line count, so a moderately-skewed fleet (not just the hot-list's
    * named whales) stops packing its heavy subjects into one straggler
    * group — the straggler IS the scan's wall clock. Subjects missing
    * from the file weigh 1 (an honest default: a FRESH token's unsynced
    * window is unknown — the proxy is stated where the weights are
    * staged); strays are inert; one subject heavier than a whole
    * group's share still cannot split (a boundary falls only between
    * lines), it just earns a group of its own. Composes with the
    * hot-list: a carved-out subject weighs ZERO in the boundary walk —
    * its docs drain through its own parallel tasks, and counting it
    * would under-load the tile it was carved from. Driver state stays
    * O(groups); the weights file streams once per pass in lockstep with
    * the census — no map materializes.
    */
  private[graft] def planCensusRangesHot(censusPath: String, stopsPath: Option[String],
      groups: Int, hot: Set[String],
      weightsPath: Option[String] = None): RangedHotPlan = {
    val hotPresentB = Seq.newBuilder[String]
    val hotStopsB = Map.newBuilder[String, Long]
    var n = 0L
    var totalW = 0L
    val preCursor = weightsPath.map(new SortedWeightCursor(_, 1L))
    val censusLen =
      try eachLineWithOffset(censusPath) { (line, _) =>
        n += 1
        // a hot-carved subject weighs ZERO in the boundary walk: its
        // docs drain through its own parallel tasks, not its tile —
        // counting it would under-load the group it was carved from
        // (the cursor still advances, keeping the lockstep and the
        // file's own validation)
        preCursor.foreach { c =>
          val w = c.valueFor(line)
          if (!hot.contains(line)) totalW += w
        }
      } finally preCursor.foreach(_.close())
    if (n == 0L) return RangedHotPlan(Seq.empty, Seq.empty, Map.empty)
    val g = math.max(1L, math.min(groups.toLong, n)).toInt
    val per = (n + g - 1) / g
    val cStartsB = Seq.newBuilder[Long]
    val boundsB = Seq.newBuilder[String]
    var i = 0L
    // SORTEDNESS IS LOAD-BEARING, so it is VERIFIED, not assumed: group
    // tiling covers an unsorted census too (byte ranges tile the file
    // whatever its order), but the stops merge-walk below aligns by
    // subject order — an unsorted file would silently park a watermark
    // outside its subject's group, the scan would overship rows past the
    // stop, and nothing downstream would know. Fail loudly instead.
    // STRICTLY sorted: subjects are identifiers and must be unique —
    // unlike the materialized path (which dedups through a Set), ranged
    // tasks drain their slice's RAW lines, so a duplicated census line
    // would drain twice (duplicate output rows), and a duplicate
    // straddling a group boundary parks its watermark in only the later
    // group, overshipping in the earlier one.
    // UTF-8/code-point order ([[utf8Lt]]) — the writer is Spark's binary
    // UTF8String sort, and compareTo disagrees with it around surrogates
    var prevC: String = null
    // weighted boundaries, MIDPOINT rule: a new group starts at the
    // first line whose weight MIDPOINT (cum + w/2) crosses the next
    // equal-weight cut (totalW*k/g), and the line advances k past every
    // cut its midpoint crosses. Testing only the weight BEFORE a line
    // would never let a heavy subject in the middle or TAIL of the
    // census start its own group (it merges backward; a trailing whale
    // collapses the whole plan to one group — the exact heavy-last
    // shape of fleets where newer ids run deeper). The midpoint isolates
    // a heavier-than-share subject wherever it sorts: the boundary lands
    // ON it (its midpoint crosses the pending cut) and again on the line
    // after it (the whale's own mass crosses the next). Comparisons run
    // at 2x in Long (no fractions), MULTIPLYING before dividing —
    // 2*W*k/g, not 2*(W*k/g): the inner division truncates first, so
    // the parenthesized form lowers the cut by up to 2 whenever
    // W*k mod g >= g/2 and a boundary can land one line early
    // (balance-only drift, but the rule would no longer be the exact
    // midpoint rule this comment states). Overflow headroom: the
    // largest product is 2*W*(g-1), safe while totalW < 2^62/g — a
    // 4096-group plan tolerates a cumulative weight over 10^15 rows.
    // Unweighted keeps the exact line-count boundaries, byte-identical.
    val cursor = weightsPath.map(new SortedWeightCursor(_, 1L))
    var cum = 0L
    var k = 1
    try eachLineWithOffset(censusPath) { (line, off) =>
      require(prevC == null || utf8Lt(prevC, line),
        s"censusRanges requires a STRICTLY sorted census file (unique subjects, " +
          s"UTF-8 byte order): '$prevC' precedes '$line' in $censusPath")
      prevC = line
      if (hot.contains(line)) hotPresentB += line
      val boundary = cursor match {
        case Some(c) =>
          val w0 = c.valueFor(line) // always advance the lockstep cursor
          val w = if (hot.contains(line)) 0L else w0 // carved-out whales weigh 0
          def crosses = k < g && 2 * cum + w > 2 * totalW * k / g
          val here = i == 0L || crosses
          while (crosses) k += 1
          cum += w
          here
        case None => i % per == 0L
      }
      if (boundary) { cStartsB += off; boundsB += line }
      i += 1
    } finally cursor.foreach(_.close())
    val cStarts = cStartsB.result()
    val cEnds = cStarts.drop(1) :+ censusLen
    val bounds = boundsB.result()
    val (sStarts, sEnds): (Seq[Long], Seq[Long]) = stopsPath match {
      case None => (Seq.fill(cStarts.size)(0L), Seq.fill(cStarts.size)(0L))
      case Some(sp) =>
        val starts = Array.fill[Long](bounds.size)(-1L)
        var next = 0
        var prevS: String = null
        val totalS = eachLineWithOffset(sp) { (line, off) =>
          val tab = line.lastIndexOf('\t')
          require(tab > 0, s"stopBySubjectPath line is not subject<TAB>ms: $line")
          val subj = line.substring(0, tab)
          // strict for the same reason: a duplicated stops subject would
          // make the task-side map's winner an accident of line order
          require(prevS == null || utf8Lt(prevS, subj),
            s"censusRanges requires a STRICTLY sorted stops file (unique subjects, " +
              s"UTF-8 byte order): '$prevS' precedes '$subj' in $sp")
          prevS = subj
          if (hot.contains(subj)) hotStopsB += (subj -> line.substring(tab + 1).toLong)
          // bounds(next) <= subj, in the SAME UTF-8 order the files sort in
          // (a compareTo walk would misalign a group boundary at exactly
          // the surrogate/BMP seam the strict checks now admit)
          while (next < bounds.size && !utf8Lt(subj, bounds(next))) {
            starts(next) = off
            next += 1
          }
        }
        // groups whose bound exceeds every stops subject get empty ranges
        var fill = totalS
        var k = starts.length - 1
        while (k >= 0) {
          if (starts(k) < 0L) starts(k) = fill else fill = starts(k)
          k -= 1
        }
        (starts.toSeq, starts.toSeq.drop(1) :+ totalS)
    }
    RangedHotPlan(
      cStarts.indices.map(j => CensusRange(cStarts(j), cEnds(j), sStarts(j), sEnds(j))),
      hotPresentB.result(), hotStopsB.result())
  }

  /** Planner-side CONSTRAINED resolve of the staged files: the subjects
    * of `keep` that the census contains (in census order) and their
    * stops. The ranged scan's point-lookup fallback (pushed IN/equality,
    * DPP) needs only `census ∩ keep` — `keep` is bounded small
    * (≤ [[ShardedSignalSource.MaxRuntimeInSet]] runtime keys, IN-sets of
    * the same cap, or one equality) — so this STREAMS both files with
    * O(keep) memory instead of materializing a 10M-token census for a
    * 3-subject lookup (the exact driver wall `censusRanges` exists to
    * avoid). Neither file needs to be sorted here (membership lookups).
    */
  private[graft] def filterStaged(censusPath: String, stopsPath: Option[String],
      keep: Set[String]): (Seq[String], Map[String, Long]) = {
    val present = Seq.newBuilder[String]
    eachLineWithOffset(censusPath)((line, _) => if (keep.contains(line)) present += line)
    val stops: Map[String, Long] = stopsPath match {
      case None => Map.empty
      case Some(sp) =>
        val b = Map.newBuilder[String, Long]
        eachLineWithOffset(sp) { (line, _) =>
          val stop = parseStopLine(line)
          if (keep.contains(stop._1)) b += stop
        }
        b.result()
    }
    (present.result(), stops)
  }

  /** Task-side read of one byte range of a staged file → its non-empty
    * lines (each task reads ONLY its own slice — the per-token state the
    * driver no longer holds, paid where it parallelizes).
    */
  private[graft] def readRange(path: String, start: Long, end: Long): Seq[String] = {
    if (end <= start) return Seq.empty
    // the slice materializes as one buffer, so its length must fit an
    // Int: past 2 GiB the toInt below would throw (2–4 GiB, negative)
    // or WRAP to a small positive (>4 GiB) and silently truncate the
    // slice — dropped subjects with no error, in exactly the mega-fleet
    // regime this mode exists for. A per-task slice that large is a
    // planning mistake anyway (it is the per-token state ONE task holds).
    require(end - start <= Int.MaxValue,
      s"staged-file slice [$start,$end) of $path exceeds 2 GiB per task — raise censusRanges")
    val ch = java.nio.file.Files.newByteChannel(java.nio.file.Paths.get(path))
    try {
      ch.position(start)
      val buf = java.nio.ByteBuffer.allocate((end - start).toInt)
      while (buf.hasRemaining && ch.read(buf) != -1) {}
      new String(buf.array(), 0, buf.position(), java.nio.charset.StandardCharsets.UTF_8)
        .split("\n", -1).toSeq.filter(_.nonEmpty)
    } finally ch.close()
  }
}

/** The O(groups) mega-fleet census form (`censusRanges` option): instead
  * of materializing a 10M-token census + watermark map on the driver at
  * load() (~2.1 GB at 10M tokens, LiveProbe §7 — the reference's own
  * loop state, sync.go:61-100 [ext]), the planner streams the SORTED
  * staged files once, records one byte range per group, and each task
  * reads ITS slice — driver state O(groups). The trade is the file
  * lifetime: the staged files must OUTLIVE the scan's execution and be
  * readable from executors (shared storage, or `--files` distribution);
  * a caller that deletes staging the moment load() returns (the default
  * [[graft.jobs.SyncJob.runLive]] cadence) must not set `censusRanges`.
  * Pushed subject constraints (IN/equality/DPP) fall back to the
  * materialized census so the intersect semantics stay identical.
  *
  * Balance trade, stated honestly: ranged groups are equal-SUBJECT-count
  * (the hot-subject terms probe cannot enumerate a 10M-token fleet, so
  * neither load packing nor per-subject slicing applies here). That is
  * the right default for the workload this mode exists for — an
  * incremental mega-fleet sync, where each subject's window is its
  * unsynced suffix and per-subject work is short and roughly uniform.
  * For a fleet with a few KNOWN deep-history devices, `hotPath`
  * (`hotSubjectsPath` option — the operator usually knows its whales, or
  * one prior `groupBy(subject).count()` run does) carves those subjects
  * OUT of the byte-range tiles at planning (they are lines the
  * sortedness walk already visits — zero extra passes) and plans them
  * through the hot-subject machinery instead: sliced-PIT parallel drains
  * when `slices` > 1 and the server offers PITs, one isolated page-loop
  * task each otherwise — either way a whale no longer straggles its
  * byte-range group.
  */
private[graft] case class RangedCensus(censusPath: String, stopsPath: Option[String],
    groups: Int, hotPath: Option[String] = None,
    weightsPath: Option[String] = None)

class StatusLiveTable(url: String, index: String, batchSize: Int,
    startMs: Long, stopMs: Long, signals: Option[Seq[String]],
    stopBySubject: Map[String, Long],
    census: Option[Seq[String]] = None,
    termsSize: Int = EsHttpClient.MaxTermsSize,
    wire: LiveWire = LiveWire.default,
    slices: Int = 1,
    hotSubjectPages: Int = 8,
    rangedCensus: Option[RangedCensus] = None,
    pitReleaseAtQueryEnd: Boolean = true) extends Table with SupportsRead {
  override def name(): String = s"graft_status_live($url/$index)"
  override def schema(): StructType = StatusV2Source.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StatusLiveScanBuilder(url, index, batchSize, startMs, stopMs, signals, stopBySubject,
      census, termsSize, wire, slices, hotSubjectPages, rangedCensus, pitReleaseAtQueryEnd)
}

class StatusLiveScanBuilder(url: String, index: String, batchSize: Int,
    startMs: Long, stopMs: Long, signals: Option[Seq[String]],
    stopBySubject: Map[String, Long],
    census: Option[Seq[String]] = None,
    termsSize: Int = EsHttpClient.MaxTermsSize,
    wire: LiveWire = LiveWire.default,
    slices: Int = 1,
    hotSubjectPages: Int = 8,
    rangedCensus: Option[RangedCensus] = None,
    pitReleaseAtQueryEnd: Boolean = true)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = StatusV2Source.Schema
  private var limit: Int = -1
  private var topN: Int = -1
  private var topNDesc: Boolean = true
  private var pushedCount: Option[Long] = None
  private var pushedGroupCounts: Option[Seq[(String, Long)]] = None

  /** COUNT(*) pushdown: `live.count()` must not page the whole index over
    * the wire — the exact-total probe ([[EsHttpClient.countFor]],
    * `track_total_hits: true`) answers it in ONE size-0 request. Accepted
    * only where the probe's semantics are EXACTLY the row scan's:
    * ungrouped CountStar, no configured signal filter (`exists` clauses
    * change the row set), no per-subject stop windows, no staged census,
    * and every pushed filter one the request DSL translates unambiguously:
    * at most one subject equality + time bounds. `IsNotNull("time")` is
    * fine (every probe carries the scan's half-open window, which only
    * matches docs with an indexed time); `IsNotNull("subject")` only
    * rides along with a subject equality (the match clause implies it) —
    * BARE not-null constraints are client-side-only semantics and reject
    * the pushdown, as do IN-sets. The probe runs HERE, with the scan's
    * window applied; a non-exact total (-1) or any probe failure rejects
    * the pushdown and the row scan proceeds unchanged. PARTIAL contract:
    * Spark's retained final aggregate sums the one partial row this scan
    * then emits. Like every planning envelope in the live tier, the count
    * is the INDEX's truth at plan time — the same documents the row scan
    * would request.
    *
    * CONTRACT — well-formed sources: the probe counts every INDEXED match;
    * the row scan it replaces stops paging at an untimed tail (a doc whose
    * `_source.time` is missing/unparseable — the index-time-vs-source-time
    * divergence [[PaginationFuzz]] models, policy documented at
    * [[EsHttpClient.pagedDocs]]). On such corpora `count()` and a
    * collect-then-count can differ; corpora whose matching documents carry
    * well-formed `_source.time` — every real CloudEvents status index —
    * are the probe's contract.
    */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val countStarOnly = aggregation.aggregateExpressions().length == 1 &&
      aggregation.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    val groups = aggregation.groupByExpressions()
    // the GROUPED form: groupBy(subject).count() → one terms-agg probe
    // ([[EsHttpClient.groupCountsFor]]). A terms agg only buckets docs
    // CARRYING the field, so the pushdown additionally requires a pushed
    // `subject IS NOT NULL` (or equality) — without one, the row scan it
    // replaces could emit a null-subject group the probe silently drops.
    val groupedBySubject = groups.length == 1 && (groups(0) match {
      case nr: NamedReference => nr.fieldNames().length == 1 && nr.fieldNames()(0) == "subject"
      case _                  => false
    })
    val subjectEqs = pushed.count { case EqualTo("subject", _) => true; case _ => false }
    val subjectIns = pushed.count { case In("subject", _) => true; case _ => false }
    val subjectNotNull = pushed.exists {
      case IsNotNull("subject") | EqualTo("subject", _) | In("subject", _) => true
      case _                                                               => false
    }
    val translatable = pushed.forall {
      case EqualTo("subject", _: String)                      => true
      // a fleet-subset membership → one `terms` clause in the probe body
      // (the row scan fans the same IN into per-subject loops; for a
      // size-0 probe the server's set test IS the loop fan-out's row set)
      case In("subject", vs) => vs.forall(_.isInstanceOf[String])
      case GreaterThanOrEqual("time", _) | LessThan("time", _) => true
      case IsNotNull("time")                                   => true // the window implies it
      // implied by a match/terms clause (matched docs carry the field);
      // in the grouped form the terms AGG itself enforces it too
      case IsNotNull("subject") =>
        groupedBySubject || subjectEqs == 1 || subjectIns >= 1
      case _                                                   => false
    }
    if (!countStarOnly || signals.nonEmpty || stopBySubject.nonEmpty ||
      census.nonEmpty || rangedCensus.nonEmpty || !translatable || subjectEqs > 1) return false
    val windowed: Seq[Filter] = pushed.toSeq ++
      Seq(GreaterThanOrEqual("time", startMs): Filter, LessThan("time", stopMs): Filter)
    if (groups.isEmpty) {
      val n = try new EsHttpClient(url, wire = wire).countFor(index, windowed)
      catch { case scala.util.control.NonFatal(_) => -1L }
      if (n < 0) false // non-exact or unreachable: fall back to the row scan
      else { pushedCount = Some(n); true }
    } else if (groupedBySubject && subjectNotNull) {
      val counts = try new EsHttpClient(url, wire = wire)
        .groupCountsFor(index, windowed, "subject", termsSize)
      catch { case scala.util.control.NonFatal(_) => None }
      // None — approximate (bucket spill / shard error) or unreachable:
      // the row scan answers instead, never a wrong group count
      counts match {
        case Some(cs) => pushedGroupCounts = Some(cs); true
        case None     => false
      }
    } else false
  }

  // Per-partition early stop only — Spark keeps its global Limit above
  // the scan (same contract as the file source).
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed: Boolean = true

  /** The reference's core page query IS `sort time desc + size` pushed
    * into Elasticsearch (elastic.go:58-65): with a DESC top-K, each
    * per-subject page loop requests pages of (at most) K and stops after
    * its first K lines — the loop emits newest-first, so those ARE its
    * top-K. An ASC top-K is accepted too (the reader's K-bounded heap
    * handles either direction); it just cannot stop the backward-paging
    * loop early.
    */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    val onTime = orders.length == 1 && (orders(0).expression() match {
      case nr: NamedReference => nr.fieldNames().length == 1 && nr.fieldNames()(0) == "time"
      case _                  => false
    })
    if (onTime) {
      topN = l
      topNDesc = orders(0).direction() == SortDirection.DESCENDING
      true
    } else false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("subject", _: String) => true
      case In("subject", vs) if vs.forall(_.isInstanceOf[String]) &&
        vs.length <= ShardedSignalSource.MaxRuntimeInSet => true
      case GreaterThanOrEqual("time", _) => true
      case LessThan("time", _)           => true
      case IsNotNull("subject" | "time") => true
      case _                             => false
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan =
    new StatusLiveScan(url, index, batchSize, startMs, stopMs, signals, stopBySubject,
      pushed, required, limit, topN, topNDesc, census = census,
      pushedCount = pushedCount, pushedGroupCounts = pushedGroupCounts, wire = wire,
      slices = slices, termsSize = termsSize, hotSubjectPages = hotSubjectPages,
      rangedCensus = rangedCensus, pitReleaseAtQueryEnd = pitReleaseAtQueryEnd)
}

/** One live-scan partition: sequential page loops for a GROUP of
  * subjects (the per-task unit — a million-device census packs into a
  * bounded task count), or the single unfiltered loop when `subjects` is
  * None. `requiredFields` nonempty ⇒ the reference's includes+exists
  * signal projection; else `envelopeIncludes` nonempty ⇒ pure envelope
  * projection; else full `_source`.
  */
case class StatusLivePartition(url: String, index: String, batchSize: Int,
    startMs: Long, stopMs: Long, subjects: Option[Seq[String]],
    requiredFields: Seq[String],
    envelopeIncludes: Seq[String] = Seq.empty,
    stopBySubject: Map[String, Long] = Map.empty,
    perLoopCap: Int = -1,
    // one tile of a PIT-less window-cut drain ([[StatusLiveScan]]
    // windowCutParts) — its task reports the `liveWindowTiles` metric so
    // a degenerate tiling (one tile carrying most docs under a skewed
    // `time` distribution) is visible in the SQL UI next to the per-task
    // liveDocs breakdown
    windowTile: Boolean = false) extends InputPartition

/** One slice of a PARALLEL scan (`slices` option > 1): the task drains
  * slice `sliceId` of `sliceMax` through a sliced-PIT `search_after`
  * loop ([[EsHttpClient.slicedDocs]]) — the server partitions the
  * point-in-time's documents into disjoint subsets. Two shapes plan
  * this partition: the whole-window scan (no subject constraints —
  * `subject` None) and ONE HOT SUBJECT's parallel drain (`subject` set:
  * the slice composes with the per-subject match clause, so one device
  * with a 100×-deep history stops serializing through a single page
  * loop). `pitId` is the snapshot the PLANNER opened — shared by every
  * slice, so all tasks read ONE point-in-time (per-task opens would
  * tear the read under concurrent indexing). `perLoopCap` here is a
  * pushed LIMIT (any subset satisfies it); DESC top-K never plans
  * slices.
  */
case class StatusLiveSlicePartition(url: String, index: String, batchSize: Int,
    startMs: Long, stopMs: Long, sliceId: Int, sliceMax: Int,
    requiredFields: Seq[String],
    envelopeIncludes: Seq[String] = Seq.empty,
    perLoopCap: Int = -1,
    pitId: String,
    subject: Option[String] = None) extends InputPartition

/** One byte-range group of a RANGED census scan (`censusRanges`): the
  * task reads subjects from `[censusStart, censusEnd)` of the staged
  * census file and its watermark slice from `[stopsStart, stopsEnd)` of
  * the staged stops file, then drives the same sequential page loops a
  * [[StatusLivePartition]] group does — the partition itself carries
  * OFFSETS, never a subject list or FLEET-scale stop map, so a
  * 10M-token plan ships O(groups) driver state. Two small exceptions
  * ride inline because they CANNOT live in the staged files:
  * `inlineStops` — the `stopBySubject` OPTION's map (bounded by what
  * fits a catalog property string; task-side it merges UNDER the
  * file-slice stops, same right-bias as the materialized path), and
  * `excludeSubjects` — hot subjects (`hotSubjectsPath`) carved out of
  * this tile because they planned their own parallel drains.
  */
case class StatusLiveRangedPartition(url: String, index: String, batchSize: Int,
    startMs: Long, stopMs: Long,
    censusPath: String, censusStart: Long, censusEnd: Long,
    stopsPath: Option[String], stopsStart: Long, stopsEnd: Long,
    requiredFields: Seq[String],
    envelopeIncludes: Seq[String] = Seq.empty,
    perLoopCap: Int = -1,
    inlineStops: Map[String, Long] = Map.empty,
    excludeSubjects: Set[String] = Set.empty) extends InputPartition

/** A pushed COUNT(*)'s single partition: the probe already answered at
  * planning; the task just emits the partial row.
  */
case class StatusLiveCountPartition(n: Long) extends InputPartition

/** A pushed grouped COUNT's single partition: the terms-agg probe already
  * answered at planning; the task emits one partial (subject, count) row
  * per bucket and Spark's retained final aggregate merges.
  */
case class StatusLiveGroupCountPartition(counts: Seq[(String, Long)]) extends InputPartition

class StatusLiveScan(url: String, index: String, batchSize: Int,
    defaultStartMs: Long, defaultStopMs: Long, signals: Option[Seq[String]],
    stopBySubject: Map[String, Long],
    filters: Array[Filter], required: StructType,
    limit: Int = -1, topN: Int = -1, topNDesc: Boolean = true,
    maxTasks: Int = StatusLiveScan.defaultMaxTasks,
    census: Option[Seq[String]] = None,
    pushedCount: Option[Long] = None,
    pushedGroupCounts: Option[Seq[(String, Long)]] = None,
    wire: LiveWire = LiveWire.default,
    slices: Int = 1,
    termsSize: Int = EsHttpClient.MaxTermsSize,
    hotSubjectPages: Int = 8,
    rangedCensus: Option[RangedCensus] = None,
    pitReleaseAtQueryEnd: Boolean = true) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  private[sources] def index0: String = index

  /** Runtime subject filter (DSv2 DPP) — the ES twin of
    * [[SignalLiveScan.filter]]: a broadcast join's build side hands this
    * scan its ACTUAL subject set after materializing, and the per-subject
    * page-loop fan-out re-plans around it — a join against a handful of
    * hot devices then drives THOSE subjects' `_search` loops (the
    * reference's own per-token correlated lookup, sync.go:77-80 +
    * elastic.go:53 [ext]) instead of paging every configured subject's
    * window over the wire and discarding in the join. The set INTERSECTS
    * the static constraints (census, pushed IN/eq) like any other
    * conjunct in [[partitionsFor]]. Advisory: sets past
    * [[ShardedSignalSource.MaxRuntimeInSet]] are ignored (a million-key
    * fan-out plan helps nothing; the join above still applies the
    * predicate), and a pushed COUNT never sees one (its single partition
    * was answered at push time — no attributes are reported there).
    */
  private var runtimeSubjects: Option[Set[String]] = None

  override def filterAttributes(): Array[NamedReference] =
    (if (pushedCount.isEmpty && pushedGroupCounts.isEmpty &&
      readSchema().fieldNames.contains("subject"))
      Seq("subject") else Seq.empty)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def filter(runtime: Array[Filter]): Unit = runtime.foreach {
    case In("subject", vs) if vs.length <= ShardedSignalSource.MaxRuntimeInSet =>
      runtimeSubjects = Some(vs.collect { case s: String => s }.toSet)
    case EqualTo("subject", s: String) => runtimeSubjects = Some(Set(s))
    case _ => () // unsupported runtime filter: ignore (advisory)
  }

  /** Reported statistics: one size-0 planning probe for the pushed-filter
    * match count ([[EsHttpClient.countFor]]) with `track_total_hits:
    * true`, so a small live snapshot joined against a big fact BROADCASTS
    * on data instead of defaulting to never-broadcast. Bytes:
    * [[avgDocBytes]] (index-stats probe; 512/doc fallback). countFor
    * returns -1 — and this scan reports NOTHING — unless the total is
    * EXACT (`relation: "eq"`): an under-reported count (ES's default 10k
    * cap) would make the planner broadcast an arbitrarily large live
    * scan, the opposite of safe. Memoized — one probe per scan.
    */
  private lazy val matchCount: Long =
    try new EsHttpClient(url, wire = wire).countFor(index, filters.toSeq)
    catch { case scala.util.control.NonFatal(_) => -1L } // unknown: report nothing

  /** Measured bytes per document (index-stats probe — store bytes over
    * doc count, primaries), falling back to a conservative 512 when the
    * endpoint is unavailable. A guessed constant under-sizes a
    * heavy-payload index and BROADCASTS a scan that then materializes at
    * its real size — the same optimistic-estimate failure mode as the
    * r12 count bug, on the bytes axis. Store bytes include index
    * structures, so the estimate errs large — the safe direction for a
    * broadcast decision. Memoized: one probe per scan, no documents
    * shipped (served-doc pins stay exact).
    */
  private lazy val avgDocBytes: Long =
    (try new EsHttpClient(url, wire = wire).indexStats(index)
    catch { case scala.util.control.NonFatal(_) => None })
      .map { case (docs, bytes) => math.max(1L, bytes / math.max(1L, docs)) }
      .getOrElse(512L)

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      // a pushed COUNT emits exactly one row; a grouped one, its buckets —
      // no probe needed either way
      private def rows: Long = pushedCount.map(_ => 1L)
        .orElse(pushedGroupCounts.map(_.length.toLong)).getOrElse(matchCount)
      private def aggPushed: Boolean = pushedCount.isDefined || pushedGroupCounts.isDefined
      override def sizeInBytes(): java.util.OptionalLong =
        if (rows < 0) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(math.max(rows, 1L) * (if (aggPushed) 32L else avgDocBytes))
      override def numRows(): java.util.OptionalLong =
        if (rows < 0) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(rows)
    }

  override def readSchema(): StructType =
    if (pushedCount.isDefined)
      StructType(Seq(org.apache.spark.sql.types.StructField("count",
        org.apache.spark.sql.types.LongType, nullable = false)))
    else if (pushedGroupCounts.isDefined)
      // groupBy cols first, then the aggregate — the order
      // V2ScanRelationPushDown zips the retained final aggregate against
      StructType(Seq(
        org.apache.spark.sql.types.StructField("subject",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("count",
          org.apache.spark.sql.types.LongType, nullable = false)))
    else required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-status-live $url/$index pushed=[${filters.mkString(", ")}]" +
      signals.map(s => s" signals=[${s.mkString(",")}]").getOrElse("") +
      (if (limit >= 0) s" limit=$limit" else "") +
      (if (topN >= 0) s" topN=$topN time ${if (topNDesc) "DESC" else "ASC"}" else "") +
      pushedCount.map(_ => " agg=[count(*) via track_total_hits probe]").getOrElse("") +
      pushedGroupCounts.map(cs =>
        s" agg=[groupBy(subject) count(*) via terms probe, ${cs.length} buckets]").getOrElse("")

  private def ms(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime
    case i: java.time.Instant => i.toEpochMilli
    case l: Long => l
    case other => throw new IllegalArgumentException(s"unsupported time literal: $other")
  }

  // duplicate pushed bounds tighten: the REQUEST window is the
  // intersection (max of >=, min of <) — anything looser ships rows the
  // plan no longer re-filters
  private[sources] def windowStartMs: Long =
    filters.collect { case GreaterThanOrEqual("time", v) => ms(v) }
      .reduceOption(_ max _).getOrElse(defaultStartMs)
  private[sources] def windowStopMs: Long =
    filters.collect { case LessThan("time", v) => ms(v) }
      .reduceOption(_ min _).getOrElse(defaultStopMs)

  override def planInputPartitions(): Array[InputPartition] =
    (pushedCount, pushedGroupCounts) match {
      // the probe already answered at push time: one task, zero further
      // wire traffic (the batch-scan snapshot semantics every planning
      // envelope here already has)
      case (Some(n), _)  => Array(StatusLiveCountPartition(n))
      case (_, Some(cs)) => Array(StatusLiveGroupCountPartition(cs))
      case _             => partitionsFor(windowStartMs, windowStopMs)
    }

  /** Partitions for one half-open [startMs, stopMs) window — the batch
    * scan uses the pushed/default window; the micro-batch stream calls
    * this per offset range. MEMOIZED per (window, runtime-subject)
    * state: Spark calls planInputPartitions more than once per action
    * (partitioning inquiries, then execution), and the sliced forms
    * open a point-in-time — the snapshot must be THE one the executed
    * partitions carry, not one of several a repeated probe opened and
    * nobody drains. A DPP runtime filter arriving between calls changes
    * the key and re-plans; streaming windows differ per micro-batch, so
    * every batch still opens a FRESH snapshot (new documents stay
    * visible to the tail).
    */
  private var planCache: Option[((Long, Long, Option[Set[String]]), Array[InputPartition])] = None
  private[sources] def partitionsFor(startMs: Long, stopMs: Long): Array[InputPartition] =
    synchronized {
      val key = (startMs, stopMs, runtimeSubjects)
      planCache match {
        case Some((k, v)) if k == key => v
        case _ =>
          // a SUPERSEDED plan's PITs are dead weight: in batch, a DPP
          // runtime filter arrived before execution (the old partitions
          // never run); in streaming, the previous micro-batch finished
          // before the next one plans. Release them here so a
          // long-running sliced tail holds at most ONE batch's search
          // contexts instead of accumulating one per micro-batch.
          if (openedPits.nonEmpty) releasePits()
          val v = planPartitionsFor(startMs, stopMs)
          planCache = Some((key, v))
          v
      }
    }

  /** PITs this scan's planning opened and has not yet released. No TASK
    * may close a shared PIT (a sibling slice may still be draining) and
    * DSv2 gives the Scan no completion hook, so reclamation used to ride
    * the keep-alive alone (`pitKeepAlive`, default 1m, refreshed per
    * request) — correct, but a production scan that RAISES the keep-alive
    * holds server search contexts that long after every read. The
    * QUERY-END hook closes the gap: opening a PIT arms a one-shot
    * [[org.apache.spark.sql.util.QueryExecutionListener]] that, when an
    * ACTION whose optimized plan contains THIS scan completes (success or
    * failure), best-effort DELETEs every tracked PIT and invalidates the
    * plan cache — the memoized plan must never hand a now-closed PIT id
    * to a later action on the same scan object (a task would fail
    * `search_context_missing` with no recovery path); the next action
    * re-plans and opens a fresh snapshot. Failures closing are ignored
    * (the keep-alive still reclaims); plannings that never execute (a
    * bare `.rdd.getNumPartitions`) fall back to the keep-alive
    * server-side, with the weakly-held listener dropping off the bus
    * once the scan is collected; streaming micro-batches (whose
    * QueryExecution events bypass the listener bus) release superseded
    * pits at the next planning and the last at stream stop().
    */
  private val openedPits = scala.collection.mutable.ArrayBuffer[String]()
  private var releaseHookArmed = false

  /** The listener holds only a WEAK reference to this scan
    * ([[PitReleaseListener]]): an inner/anonymous listener would retain
    * the scan — plan cache and partitions included — on the session's
    * listener bus for the application's lifetime whenever a planned scan
    * never executes (a bare `.rdd.getNumPartitions`, an abandoned
    * Dataset). Weakly held, a collected scan's listener drops off at the
    * next action; a still-referenced never-executed scan leaks only
    * while the caller itself holds it.
    */
  private def trackPit(pit: Option[String]): Option[String] = {
    pit.foreach { id =>
      openedPits += id
      // `pitReleaseAtQueryEnd` false: keep-alive-only lifecycle — no
      // query-end hook, so a multi-action consumer can re-collect the
      // same sliced Dataset for `pitKeepAlive` after the last request
      // (superseded plannings and stream stop() still release)
      if (!releaseHookArmed && pitReleaseAtQueryEnd)
        org.apache.spark.sql.SparkSession.getActiveSession.foreach { session =>
          session.listenerManager.register(new PitReleaseListener(
            new java.lang.ref.WeakReference(this), session))
          releaseHookArmed = true
        }
    }
    pit
  }

  /** True (and disarms) when there is nothing left to release — the
    * superseded-plan release beat the action hook, or the pits lapsed to
    * the keep-alive: the listener drops off the bus without walking the
    * plan, and the next [[trackPit]] re-arms a fresh one.
    */
  private[sources] def hookStale(): Boolean = synchronized {
    if (openedPits.isEmpty) { releaseHookArmed = false; true } else false
  }

  /** True when `parts` IS the memoized planning (element identity) —
    * callers must hold the scan monitor. The query-end drain's guard
    * against sweeping a CONCURRENT action's just-opened snapshot
    * ([[releaseAtQueryEnd]]).
    */
  private def isCurrentPlanning(parts: Seq[InputPartition]): Boolean =
    planCache.exists { case (_, arr) =>
      arr.length == parts.length && arr.indices.forall(i => arr(i) eq parts(i))
    }

  /** The listener's query-end release: drain + plan-cache invalidation +
    * DISARM under ONE monitor acquisition. Separate release-then-disarm
    * calls race a concurrent planning on the same scan: a trackPit
    * landing between them sees `releaseHookArmed` still true, skips
    * re-registering, and the listener then unregisters — leaving the new
    * PIT with no query-end hook (keep-alive backstop only). Atomically,
    * a concurrent trackPit either lands BEFORE (this release then SKIPS,
    * below) or AFTER (it finds the flag down and arms a fresh listener).
    *
    * `executed` — the partitions the COMPLETED query actually ran
    * (listener-extracted from its physical plan; None when the plan
    * shape hides them). The drain proceeds only when they ARE the
    * current planning ([[isCurrentPlanning]], checked under the SAME
    * monitor acquisition as the drain — no check-then-sweep window): a
    * concurrent action that re-planned this scan (new window, DPP key)
    * owns the tracked pits now, its query has NOT ended, and sweeping
    * them would fail its tasks `search_context_missing` mid-drain
    * (advice r17). Returns true when it drained (the listener
    * unregisters) and false when the completed query's planning was
    * superseded (the listener stays armed for the owning action's own
    * completion; the superseded pits were already drained at re-plan).
    * Two actions sharing ONE planning remain the documented limitation:
    * their partitions are indistinguishable, so the first completion
    * still releases — loud (`search_context_missing`), rare (two
    * threads executing one cached Dataset concurrently), and
    * recoverable by re-running the action.
    */
  private[sources] def releaseAtQueryEnd(
      executed: Option[Seq[InputPartition]] = None): Boolean = {
    val ids = synchronized {
      if (executed.exists(parts => !isCurrentPlanning(parts))) None
      else {
        val snapshot = openedPits.toList
        openedPits.clear()
        planCache = None // a later action must re-plan: its PIT ids are gone
        releaseHookArmed = false
        Some(snapshot)
      }
    }
    ids.foreach(closePitsAsync)
    ids.isDefined
  }

  /** PIT-less parallel drain: tile one loop's window into DISJOINT
    * half-open time sub-ranges cut at the server's own time percentiles
    * ([[EsHttpClient.timeCutsMs]]) — window filters compose per request,
    * so this parallel form needs NO snapshot: the tiles partition
    * [startMs, stopMs) exactly for any corpus (each document's
    * millisecond falls in exactly one tile, and each tile is the same
    * exactly-once page loop the sequential plan runs). Consistency under
    * CONCURRENT indexing equals the sequential loop's — neither holds a
    * point-in-time, so a document arriving mid-scan may or may not be
    * seen; none duplicates. Approximate percentile estimates only
    * unbalance tiles, never rows. Any shortfall — no percentiles
    * support, an empty window, equal/degenerate cuts, a wire failure —
    * keeps the SINGLE loop: coarser, never wrong.
    */
  private def windowCutParts(subject: Option[String], startMs: Long, stopMs: Long,
      pageSize: Int, requiredFields: Seq[String], envelopeIncludes: Seq[String],
      cap: Int): Seq[InputPartition] = {
    if (slices <= 1 || topN >= 0)
      return tilePartitions(subject, startMs, stopMs, pageSize, requiredFields,
        envelopeIncludes, cap, Seq.empty)
    val probeFilters: Seq[Filter] =
      subject.map(s => EqualTo("subject", s): Filter).toSeq ++
        Seq(GreaterThanOrEqual("time", startMs): Filter, LessThan("time", stopMs): Filter)
    val cuts = new EsHttpClient(url, wire = wire).timeCutsMs(index, probeFilters, slices)
      .getOrElse(Seq.empty)
    tilePartitions(subject, startMs, stopMs, pageSize, requiredFields,
      envelopeIncludes, cap, cuts)
  }

  /** Tile construction from already-probed cuts: interior cuts clamp to
    * the open interval, dedup, and sort; none surviving keeps the single
    * sequential loop — coarser, never wrong.
    */
  private def tilePartitions(subject: Option[String], startMs: Long, stopMs: Long,
      pageSize: Int, requiredFields: Seq[String], envelopeIncludes: Seq[String],
      cap: Int, rawCuts: Seq[Long]): Seq[InputPartition] = {
    val cuts = rawCuts.filter(c => c > startMs && c < stopMs).distinct.sorted
    if (cuts.isEmpty)
      Seq(StatusLivePartition(url, index, pageSize, startMs, stopMs,
        subject.map(Seq(_)), requiredFields, envelopeIncludes, Map.empty, cap): InputPartition)
    else ((startMs +: cuts) :+ stopMs).sliding(2).map { case Seq(a, b) =>
      StatusLivePartition(url, index, pageSize, a, b, subject.map(Seq(_)),
        requiredFields, envelopeIncludes, Map.empty, cap,
        windowTile = true): InputPartition
    }.toSeq
  }

  /** The hot-list's PIT-less parallel drains: ONE `_msearch` round trip
    * probes every subject's time cuts ([[EsHttpClient.timeCutsMsBatch]] —
    * O(1) planning round trips for any hot-list length), each slot
    * tiling its subject's own [startMs, stop) window; a server without
    * `_msearch` falls back to per-subject probes on the bounded pool
    * ([[planHotParallel]]). Per-subject degradation is identical either
    * way: an empty/failed slot keeps THAT subject's sequential loop.
    */
  private def hotPartsPitless(subjects: Seq[String], startMs: Long,
      stopFor: String => Long, pageSize: Int, requiredFields: Seq[String],
      envelopeIncludes: Seq[String], cap: Int): Seq[InputPartition] = {
    // no probes will run (windowCutParts returns each subject's single
    // isolated loop) — skip the batch AND the pool, plain flatMap
    if (slices <= 1 || topN >= 0)
      return subjects.flatMap(s => windowCutParts(Some(s), startMs, stopFor(s),
        pageSize, requiredFields, envelopeIncludes, cap))
    val batched: Option[Seq[Seq[Long]]] =
      if (subjects.lengthCompare(2) < 0) None
      else new EsHttpClient(url, wire = wire).timeCutsMsBatch(index,
        subjects.map { s =>
          Seq(EqualTo("subject", s): Filter,
            GreaterThanOrEqual("time", startMs): Filter,
            LessThan("time", stopFor(s)): Filter)
        }, slices)
    batched match {
      case Some(slots) => subjects.lazyZip(slots).flatMap { (s, cuts) =>
        tilePartitions(Some(s), startMs, stopFor(s), pageSize, requiredFields,
          envelopeIncludes, cap, cuts)
      }
      case None => planHotParallel(subjects)(s =>
        windowCutParts(Some(s), startMs, stopFor(s), pageSize, requiredFields,
          envelopeIncludes, cap))
    }
  }

  /** Bounded order-preserving parallel planning map for the hot-list
    * shapes: on a PIT-less server each hot subject's [[windowCutParts]]
    * issues one synchronous percentiles probe, so a long hot-list
    * (`hotSubjectsPath`, or many terms-probe whales) would serialize
    * O(hot) wire round trips on the driver before any task runs. Probes
    * run on at most [[StatusLiveScan.CutProbeThreads]] daemon threads —
    * parallel enough to hide the round trips, bounded so a
    * thousand-whale list cannot stampede the server at planning time.
    * Per-subject degradation is unchanged (a probe shortfall keeps THAT
    * subject's sequential loop); a thrown planning error propagates.
    */
  private def planHotParallel(subjects: Seq[String])(
      f: String => Seq[InputPartition]): Seq[InputPartition] =
    if (subjects.lengthCompare(2) < 0) subjects.flatMap(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(subjects.size, StatusLiveScan.CutProbeThreads),
        (r: Runnable) => {
          val t = new Thread(r, "graft-cut-probe")
          t.setDaemon(true)
          t
        })
      try {
        val futures = subjects.map(s =>
          pool.submit(new java.util.concurrent.Callable[Seq[InputPartition]] {
            override def call(): Seq[InputPartition] = f(s)
          }))
        futures.flatMap { fu =>
          try fu.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdownNow()
    }

  private[sources] def releasePits(): Unit = {
    // client state flips under the lock; the wire DELETEs run on the
    // shared daemon thread — a close must never block the session's
    // listener bus (an unreachable endpoint would stall every
    // QueryExecutionListener for the wire timeout) nor a planning thread
    // holding this monitor. The keep-alive remains the backstop if the
    // release thread lags or the process exits first.
    val ids = synchronized {
      val snapshot = openedPits.toList
      openedPits.clear()
      planCache = None // a later action must re-plan: its PIT ids are gone
      // releaseHookArmed is NOT reset here: the registered listener stays
      // live (a sliced streaming tail re-plans every micro-batch —
      // re-arming would register a listener per batch and none would ever
      // fire). It disarms itself when it unregisters: on its own scan's
      // action end, or on the first foreign action that finds nothing
      // left to release.
      snapshot
    }
    closePitsAsync(ids)
  }

  private def closePitsAsync(ids: List[String]): Unit =
    if (ids.nonEmpty) StatusLiveScan.pitCloser.execute { () =>
      ids.foreach { id =>
        try new EsHttpClient(url, wire = wire).closePit(id)
        catch { case scala.util.control.NonFatal(_) => () } // keep-alive reclaims
      }
    }

  private def planPartitionsFor(startMs: Long, stopMs: Long): Array[InputPartition] = {
    // the reference's required-fields contract: the CONFIGURED signal
    // filter (sync.go:236-256) maps to `data.<originalName>` includes +
    // exists clauses. Without one, a scan whose pruned schema excludes
    // `data` still projects the envelope (pure `_source.includes`, no
    // exists — row set unchanged); a scan needing `data` requests full
    // _source.
    val requiredFields: Seq[String] = signals
      .map(names => graft.schema.SignalDefinitions.requiredSourceFields(
        graft.schema.SignalDefinitions.resolve(names)))
      .getOrElse(Seq.empty)
    val envelopeIncludes: Seq[String] =
      if (requiredFields.nonEmpty || required.fieldNames.contains("data")) Seq.empty
      else EsQueryDsl.RootFields ++
        (if (required.fieldNames.contains("location")) Seq("location") else Nil)
    // a pushed limit (or DESC top-K) bounds what any one loop can
    // usefully request: the reference sends size = its page limit
    // (elastic.go:58). An ASC top-K still reads its whole window (the
    // heap bounds output, not input), so it must keep full-size pages.
    val bound = (Seq(limit) ++ (if (topN >= 0 && topNDesc) Seq(topN) else Nil))
      .filter(_ >= 0).reduceOption(_ min _)
    val pageSize = bound.map(b => math.min(batchSize, math.max(1, b))).getOrElse(batchSize)
    // DESC top-K: the loop emits newest-first, so its first K lines ARE
    // its top-K — stop each subject loop there (ASC cannot stop early;
    // the reader's heap still bounds its output)
    val perLoopCap = if (topN >= 0 && topNDesc) topN else -1
    // RANGED census (the O(groups) mega-fleet plan): with no other
    // subject constraint in play, plan one BYTE-RANGE group per task over
    // the SORTED staged files — the driver records offsets, never a map
    // entry per token, and each task reads ITS slice of the census and
    // watermark files ([[StatusLiveSource.planCensusRanges]]). A pushed
    // IN/equality/DPP constraint instead falls back to materializing the
    // census below: those shapes are point lookups, not fleet drains,
    // and the intersect semantics must stay identical to the
    // materialized path.
    val otherSubjectConstraints = filters.exists {
      case In("subject", _) | EqualTo("subject", _) => true
      case _                                        => false
    } || runtimeSubjects.isDefined || census.isDefined
    rangedCensus match {
      case Some(rc) if !otherSubjectConstraints =>
        // the caller-supplied hot-list (`hotSubjectsPath`): ranged groups
        // are equal-subject-count and never probe for hot devices (a
        // terms probe cannot enumerate a 10M-token fleet), so a few
        // deep-history whales would straggle their byte-range group. The
        // planner resolves the list against the census and stops files
        // ON the walks it already makes, carves those subjects out of
        // every tile (task-side `excludeSubjects` — the tiles themselves
        // are unchanged), and drains each whale in parallel: sliced-PIT
        // fan-out when `slices` > 1 and the server offers PITs, one
        // isolated page-loop task each otherwise (never a wrong plan —
        // a listed subject absent from the census plans nothing).
        val hotList: Set[String] =
          rc.hotPath.map(StatusLiveSource.readSubjects(_).toSet).getOrElse(Set.empty)
        val plan = StatusLiveSource.planCensusRangesHot(
          rc.censusPath, rc.stopsPath, rc.groups, hotList, rc.weightsPath)
        // a hot subject's watermark: the stops FILE wins over the inline
        // option — the same right-bias as every other stops merge here
        val hotStops: Map[String, Long] = stopBySubject ++ plan.hotStops
        val pit: Option[String] =
          if (plan.hotPresent.isEmpty || slices <= 1 || topN >= 0) None
          else trackPit(new EsHttpClient(url, wire = wire).openPit(index))
        val hotStopFor: String => Long =
          s => hotStops.get(s).map(math.min(_, stopMs)).getOrElse(stopMs)
        val hotParts: Seq[InputPartition] = pit match {
          case Some(pid) => plan.hotPresent.flatMap { s =>
            (0 until slices).map(i => StatusLiveSlicePartition(url, index, pageSize,
              startMs, hotStopFor(s), i, slices, requiredFields, envelopeIncludes,
              perLoopCap = limit, pitId = pid, subject = Some(s)): InputPartition)
          }
          case None if topN >= 0 => // a pushed top-K keeps each whale's
            // own early-stopping loop (tiles would read everything)
            plan.hotPresent.map(s => StatusLivePartition(url, index, pageSize,
              startMs, hotStopFor(s), Some(Seq(s)), requiredFields,
              envelopeIncludes, Map.empty, perLoopCap): InputPartition)
          case None => // PIT-less server or slices=1: filter-disjoint
            // time tiles when they apply (one batched _msearch probe, the
            // bounded pool when the server lacks it), else one ISOLATED
            // loop — isolation from its byte-range group is most of the win
            hotPartsPitless(plan.hotPresent, startMs, hotStopFor, pageSize,
              requiredFields, envelopeIncludes, limit)
        }
        // the inline `stopBySubject` OPTION (bounded small — it rode a
        // catalog property) cannot live in the staged files, so it rides
        // whole in every ranged partition and merges task-side — dropping
        // it would silently overship rows past every inline stop, the
        // exact hazard the getTable require guards on the missing-census
        // side
        val exclude = plan.hotPresent.toSet
        return (plan.ranges.map(r =>
          StatusLiveRangedPartition(url, index, pageSize, startMs, stopMs,
            rc.censusPath, r.cStart, r.cEnd, rc.stopsPath, r.sStart, r.sEnd,
            requiredFields, envelopeIncludes, perLoopCap,
            inlineStops = stopBySubject,
            excludeSubjects = exclude): InputPartition) ++ hotParts).toArray
      case _ => ()
    }
    val (censusEff, stopsEff): (Option[Seq[String]], Map[String, Long]) = rangedCensus match {
      case Some(rc) =>
        // constrained fallback — a point-lookup shape against the staged
        // fleet. The constraint sets are bounded small (IN/runtime sets
        // cap at MaxRuntimeInSet; equality is one subject), so the staged
        // files are STREAM-INTERSECTED with O(constraint) driver memory:
        // materializing a 10M-token census for a 3-subject lookup would
        // be the exact load() wall censusRanges exists to avoid.
        val small: Seq[Set[String]] =
          filters.collect { case In("subject", vs) =>
            vs.collect { case s: String => s }.toSet } ++
            filters.collect { case EqualTo("subject", s: String) => Set(s) } ++
            runtimeSubjects.toSeq
        small.reduceOption(_ intersect _) match {
          case Some(keep) =>
            val (present, stops) = StatusLiveSource.filterStaged(
              rc.censusPath, rc.stopsPath, keep)
            (Some(present), stopBySubject ++ stops)
          case None => // unreachable under ranged (census is never inline
            // here), kept as the safe whole-file form
            (Some(StatusLiveSource.readSubjects(rc.censusPath)),
              stopBySubject ++ rc.stopsPath.map(StatusLiveSource.readStops).getOrElse(Map.empty))
        }
      case None => (census, stopBySubject)
    }
    // multiple subject constraints (IN-sets and/or equalities) INTERSECT —
    // fetching the first set and dropping the rest returns rows the other
    // conjuncts exclude. A staged census (`subjectsPath` — the fleet-scale
    // side-channel the table consumed at load()) intersects like any other
    // constraint: a million-token fleet fans into per-subject page loops
    // without a million-literal IN expression or option string anywhere.
    val constraints: Seq[Set[String]] =
      filters.collect { case In("subject", vs) => vs.collect { case s: String => s }.toSet } ++
        filters.collect { case EqualTo("subject", s: String) => Set(s) } ++
        censusEff.map(_.toSet).toSeq ++
        runtimeSubjects.toSeq // the join's runtime key set (DPP) intersects too
    val subjects: Option[Seq[String]] =
      constraints.reduceOption(_ intersect _).map(_.toSeq.sorted)
    subjects match {
      case Some(all) if all.isEmpty => Array.empty // contradictory conjuncts: no rows
      case None if slices > 1 && topN < 0 =>
        // the PARALLEL whole-window form: N sliced-PIT drains, one per
        // task ([[EsHttpClient.slicedDocs]]) — an unfiltered full-index
        // read scales with the cluster instead of one sequential page
        // loop. The PIT is probed ONCE here on the DRIVER and the
        // fallback decision is baked into the partitions: a PIT-less
        // server (None) plans TIME-WINDOW CUT partitions instead
        // ([[windowCutParts]] — filter-disjoint half-open tiles at the
        // server's own time percentiles; no snapshot required, so no
        // torn read is possible, and any probe shortfall keeps the
        // single sequential loop) — while a transient PIT-probe failure
        // THROWS at planning (openPit retries first; silence would lose
        // or duplicate slices task-side). All slices share the one
        // point-in-time: a single snapshot is what makes the server's
        // slice disjointness a completeness guarantee under concurrent
        // indexing. A pushed DESC top-K keeps the sequential loop (its
        // newest-first early stop reads K docs; slices read everything).
        // A pushed LIMIT caps each slice (any subset satisfies a limit —
        // Spark's global Limit re-applies above).
        trackPit(new EsHttpClient(url, wire = wire).openPit(index)) match {
          case Some(pid) =>
            Array.tabulate(slices)(i => StatusLiveSlicePartition(url, index, pageSize,
              startMs, stopMs, i, slices, requiredFields, envelopeIncludes,
              perLoopCap = limit, pitId = pid): InputPartition)
          case None => windowCutParts(None, startMs, stopMs, pageSize,
            requiredFields, envelopeIncludes, limit).toArray
        }
      case None => Array(StatusLivePartition(url, index, pageSize, startMs, stopMs,
        None, requiredFields, envelopeIncludes, Map.empty, perLoopCap))
      case Some(all) =>
        // HOT-SUBJECT parallel drains (slices > 1): per-subject doc
        // totals from ONE terms probe pick out subjects whose window
        // exceeds `hotSubjectPages` pages — the reference's own
        // deployment shape (113 pinned tokens, some far hotter than
        // others): one deep-history device would otherwise serialize
        // through a single sequential page loop no matter how many
        // executors idle. Each hot subject plans its own slice set over
        // ONE shared PIT (the slice composes with the match clause
        // server-side); cold subjects keep their grouped loops. A
        // PIT-less server drains each hot subject through TIME-WINDOW
        // CUTS instead ([[windowCutParts]] — filter-disjoint tiles, no
        // snapshot needed); any other probe shortfall — approximate
        // counts, census past the terms cap, failed cuts — degrades to
        // sequential loops, never a wrong plan.
        val subjectCounts: Option[Map[String, Long]] =
          if (slices <= 1 || topN >= 0 || all.length > termsSize) None
          else {
            val windowed: Seq[Filter] = Seq(
              In("subject", all.toArray[Any]),
              GreaterThanOrEqual("time", startMs), LessThan("time", stopMs))
            try new EsHttpClient(url, wire = wire)
              .groupCountsFor(index, windowed, "subject", termsSize).map(_.toMap)
            catch { case scala.util.control.NonFatal(_) => None }
          }
        val hotThreshold = hotSubjectPages.toLong * batchSize
        val hotCounts: Map[String, Long] =
          subjectCounts.map(_.filter(_._2 > hotThreshold)).getOrElse(Map.empty)
        val pit: Option[String] =
          if (hotCounts.isEmpty) None
          else trackPit(new EsHttpClient(url, wire = wire).openPit(index))
        val (hot, cold) = all.partition(hotCounts.contains)
        // the subject's own watermark tightens its slice windows just
        // like its sequential loop's
        val stopFor: String => Long =
          s => stopsEff.get(s).map(math.min(_, stopMs)).getOrElse(stopMs)
        val hotParts: Seq[InputPartition] = pit match {
          case Some(pid) => hot.flatMap { s =>
            (0 until slices).map(i => StatusLiveSlicePartition(url, index, pageSize,
              startMs, stopFor(s), i, slices, requiredFields, envelopeIncludes,
              perLoopCap = limit, pitId = pid, subject = Some(s)): InputPartition)
          }
          case None => // PIT-less: filter-disjoint time tiles (one batched
            // _msearch probe; bounded-parallel per-subject probes when the
            // server lacks it; an ISOLATED loop per shortfall subject —
            // isolation from its group is still most of the win)
            hotPartsPitless(hot, startMs, stopFor, pageSize,
              requiredFields, envelopeIncludes, limit)
        }
        // bounded fan-out: one task per GROUP of subjects (the reference
        // fans one goroutine per token, sync.go:60-84 — a cluster fans
        // tasks, but a 1M-device census must not become 1M tasks or 1M
        // concurrent page loops against the live cluster)
        val coldParts: Seq[InputPartition] =
          if (cold.isEmpty) Seq.empty
          else {
            val groups = math.max(1, math.min(cold.length, maxTasks))
            val per = (cold.length + groups - 1) / groups
            // group membership: equal-COUNT slicing by default; when the
            // terms probe answered, groups pack by LOAD instead (greedy
            // least-loaded, heaviest subject first, ties deterministic) —
            // equal-count groups straggle whenever a few warm-but-not-hot
            // subjects land together, and a group's loops run
            // sequentially inside one task, so the straggler IS the
            // scan's wall clock. Empty subjects still weigh 1 (each loop
            // costs a round trip).
            val grouped: Seq[Seq[String]] = subjectCounts match {
              case Some(counts) if cold.length > groups =>
                val bins = Array.fill(groups)(Seq.newBuilder[String])
                val loads = Array.fill(groups)(0L)
                cold.sortBy(s => (-counts.getOrElse(s, 0L), s)).foreach { s =>
                  var b = 0
                  var i = 1
                  while (i < groups) { if (loads(i) < loads(b)) b = i; i += 1 }
                  bins(b) += s
                  loads(b) += math.max(1L, counts.getOrElse(s, 0L))
                }
                bins.iterator.map(_.result()).filter(_.nonEmpty).toSeq
              case _ => cold.grouped(per).toSeq
            }
            grouped.map(g => StatusLivePartition(url, index, pageSize,
              startMs, stopMs, Some(g), requiredFields, envelopeIncludes,
              // each task ships only ITS subjects' stop overrides — a
              // million-token watermark map never rides whole inside a task
              // (per-group LOOKUPS, not a full-map scan per group: planning a
              // 1M-token census must stay O(fleet), not O(fleet × groups))
              g.iterator.flatMap(s => stopsEff.get(s).map(v => s -> v)).toMap,
              perLoopCap): InputPartition)
          }
        (coldParts ++ hotParts).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new StatusLiveReaderFactory(filters, required, limit, topN, topNDesc, wire)

  /** Continuous sync: `readStream.format("graft-status-live")` tails the
    * index as micro-batches of half-open EVENT-TIME windows. Offsets are
    * the server's own newest event time ([[EsHttpClient.maxTimeMs]], a
    * `size: 0` max aggregation) — no client clock, so batch boundaries
    * are deterministic against any corpus. Each batch reads
    * [lastOffset, serverMax + 1) through the same per-subject page loops
    * as the batch scan (pushed subject/signals/projection all apply).
    *
    * Semantics: a forward tail in event time. A document whose timestamp
    * lands BELOW an already-committed offset (a late backfill) is not
    * re-read by the tail — backfills are the BATCH path's job
    * ([[graft.jobs.SyncJob.runLive]] resumes below per-token watermarks,
    * the reference's own backfill mechanism); the pairing mirrors the
    * reference deployment (periodic forward sync + watermark backfill).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pushedCount.isEmpty && pushedGroupCounts.isEmpty,
      "graft-status-live streaming reads raw documents (a COUNT is the engine's stateful aggregate)")
    new StatusLiveMicroBatchStream(this, url, wire)
  }

  // Wire observability: malformed-doc skips (shared with the file scan)
  // plus the live tier's own shape — `_search` pages fetched and documents
  // shipped in responses (boundary-overlap duplicates included, so
  // `liveDocs - output rows` IS the pagination overhead, visible per scan
  // in the SQL UI).
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new SkippedLinesMetric, new LivePagesMetric, new LiveDocsMetric,
      new LiveWindowTilesMetric)
}

private[sources] object StatusLiveScan {
  /** The cap on cold-subject groups, one task each: 2 × the active
    * session's default parallelism (its cores, locally) — the Spark form
    * of the reference's bounded 25-100 worker pool (sync.go:60-84). A
    * task carries a fixed scheduling and setup cost, so groups past what
    * the cores run in a wave or two cost more than they balance.
    */
  private[sources] def defaultMaxTasks: Int =
    2 * org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism

  /** Concurrency cap for planning-time per-subject cut probes
    * ([[StatusLiveScan]] planHotParallel) — hides the wire round trips
    * without stampeding the server.
    */
  private[sources] val CutProbeThreads: Int = 8

  /** One shared daemon thread for best-effort PIT DELETEs across every
    * scan in the JVM — bounded, ordered, and off every latency-sensitive
    * thread (listener bus, planning, stream teardown).
    */
  private[sources] val pitCloser: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newSingleThreadExecutor((r: Runnable) => {
      val t = new Thread(r, "graft-pit-release")
      t.setDaemon(true)
      t
    })
}

/** The query-end PIT release hook — a STANDALONE listener class so the
  * scan is held only WEAKLY (see [[StatusLiveScan]] trackPit): fires
  * when an action whose optimized plan contains the scan completes
  * (success or failure), releasing its PITs and invalidating its plan
  * cache; drops off the bus when the scan was collected or has nothing
  * left to release.
  */
private class PitReleaseListener(
    scanRef: java.lang.ref.WeakReference[StatusLiveScan],
    session: org.apache.spark.sql.SparkSession)
    extends org.apache.spark.sql.util.QueryExecutionListener {
  private def fire(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    scanRef.get() match {
      case null => session.listenerManager.unregister(this) // scan collected
      case scan =>
        if (scan.hookStale()) { session.listenerManager.unregister(this); return }
        val mine = qe.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan eq scan => r
        }.nonEmpty
        if (mine) {
          // one atomic guard+drain+disarm under the scan monitor
          // ([[StatusLiveScan.releaseAtQueryEnd]]): drains only when the
          // COMPLETED query executed the scan's current planning — a
          // concurrent action that re-planned owns the tracked pits, and
          // its query has not ended. False keeps this listener armed for
          // the owning action's own completion; an executed plan whose
          // BatchScanExec can't be located (None) drains as before.
          if (scan.releaseAtQueryEnd(executedParts(qe.executedPlan, scan)))
            session.listenerManager.unregister(this)
        }
    }

  /** The partitions the completed query EXECUTED for `scan`, from its
    * physical plan. AQE and query stages are leaf nodes hiding their
    * subtrees, so the walk descends explicitly; None when no
    * BatchScanExec for this scan is reachable.
    */
  private def executedParts(p: org.apache.spark.sql.execution.SparkPlan,
      scan: StatusLiveScan):
      Option[Seq[org.apache.spark.sql.connector.read.InputPartition]] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    p match {
      case b: BatchScanExec if b.scan eq scan => Some(b.inputPartitions)
      case a: AdaptiveSparkPlanExec           => executedParts(a.executedPlan, scan)
      case q: QueryStageExec                  => executedParts(q.plan, scan)
      case other =>
        other.children.view.flatMap(c => executedParts(c, scan)).headOption
    }
  }
  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = fire(qe)
  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = fire(qe)
}

/** Event-time offset of the live tail: everything below `stopMs` is
  * committed.
  */
case class StatusLiveOffset(stopMs: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = "{\"stopMs\":" + stopMs + "}"
}

object StatusLiveOffset {
  private val Re = "\\{\"stopMs\":(-?\\d+)\\}".r
  def fromJson(json: String): StatusLiveOffset = json.trim match {
    case Re(v) => StatusLiveOffset(v.toLong)
    case other => throw new IllegalArgumentException(s"bad StatusLiveOffset: $other")
  }
}

class StatusLiveMicroBatchStream(scan: StatusLiveScan, url: String,
    wire: LiveWire = LiveWire.default)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val client = new EsHttpClient(url, wire = wire)

  // Highest offset this stream has seen — returned/committed/restored.
  // latestOffset clamps to it so offsets are MONOTONIC: if the server's
  // max event time regresses (index shrink, reindex, alias swap), a
  // lower returned offset would be recorded and the next advance would
  // re-read the [lower, previous) gap, duplicating documents in the tail
  // sink. Seeded from every deserialized offset, so a restart restores
  // the floor from the checkpoint log before the first latestOffset call.
  private var highWaterMs: Long = Long.MinValue

  override def initialOffset(): Offset = StatusLiveOffset(scan.windowStartMs)

  /** Next batch's exclusive stop: the server's newest event time + 1,
    * clamped to the pushed window's stop (a bounded stream drains and
    * idles), never regressing below the window floor OR below any offset
    * already returned/committed/restored (monotonicity).
    */
  override def latestOffset(): Offset = {
    val floor = scan.windowStartMs
    val cap = scan.windowStopMs
    val next = client.maxTimeMs(scan.index0)
      .map(t => math.min(t + 1, cap)).getOrElse(floor)
    highWaterMs = math.max(highWaterMs, math.max(floor, next))
    StatusLiveOffset(highWaterMs)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[StatusLiveOffset].stopMs
    val b = end.asInstanceOf[StatusLiveOffset].stopMs
    if (b <= a) Array.empty else scan.partitionsFor(a, b)
  }

  override def createReaderFactory(): PartitionReaderFactory = scan.createReaderFactory()
  override def deserializeOffset(json: String): Offset = {
    val off = StatusLiveOffset.fromJson(json)
    highWaterMs = math.max(highWaterMs, off.stopMs) // restored state floors the stream
    off
  }
  override def commit(end: Offset): Unit =
    highWaterMs = math.max(highWaterMs, end.asInstanceOf[StatusLiveOffset].stopMs)
  // the stream's shutdown hook IS the completion callback DSv2 denies the
  // batch Scan: a sliced tail's superseded batches already released at
  // the next planning ([[StatusLiveScan.partitionsFor]]), so at most the
  // LAST micro-batch's PIT is outstanding here — close it rather than
  // holding its server search context for the keep-alive.
  override def stop(): Unit = scan.releasePits()
}

class LivePagesMetric extends CustomSumMetric {
  override def name(): String = "livePages"
  override def description(): String = "_search pages fetched over the wire"
}

class LiveDocsMetric extends CustomSumMetric {
  override def name(): String = "liveDocs"
  override def description(): String = "documents shipped in _search responses"
}

/** Window-cut balance telemetry: tiles EXECUTED by the PIT-less parallel
  * drains. The percentile tiling inherits whatever the estimate gives —
  * on a skewed `time` distribution one tile can carry most of the
  * window's docs with every row still exactly-once. This count plus the
  * existing per-task `liveDocs` breakdown (each tile is one task) makes
  * a degenerate tiling VISIBLE in the SQL UI: tiles ≫ 0 with one task's
  * liveDocs dominating says re-slice or fix the time distribution, with
  * no signal lost when the plan kept sequential loops (0 tiles).
  */
class LiveWindowTilesMetric extends CustomSumMetric {
  override def name(): String = "liveWindowTiles"
  override def description(): String =
    "PIT-less time-window-cut tiles executed (per-tile docs = that task's liveDocs)"
}

case class LivePagesTaskMetric(value: Long) extends CustomTaskMetric {
  override def name(): String = "livePages"
}

case class LiveDocsTaskMetric(value: Long) extends CustomTaskMetric {
  override def name(): String = "liveDocs"
}

case class LiveWindowTilesTaskMetric(value: Long) extends CustomTaskMetric {
  override def name(): String = "liveWindowTiles"
}

class StatusLiveReaderFactory(filters: Array[Filter], required: StructType,
    limit: Int = -1, topN: Int = -1, topNDesc: Boolean = true,
    wire: LiveWire = LiveWire.default)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case StatusLiveCountPartition(n) =>
        return new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = if (emitted) false else { emitted = true; true }
          override def get(): InternalRow = InternalRow(n)
          override def close(): Unit = ()
        }
      case StatusLiveGroupCountPartition(counts) =>
        return new PartitionReader[InternalRow] {
          private val it = counts.iterator
          private var current: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) {
              val (k, n) = it.next()
              current = InternalRow(
                org.apache.spark.unsafe.types.UTF8String.fromString(k), n)
              true
            } else false
          override def get(): InternalRow = current
          override def close(): Unit = ()
        }
      case sp: StatusLiveSlicePartition =>
        val client = new EsHttpClient(sp.url, wire = wire)
        // the PIT rode in from the PLANNER: one snapshot shared by every
        // slice (per-task opens would snapshot N different moments — a
        // torn parallel read under concurrent indexing), and the
        // PIT-less fallback was already decided at planning (a PIT-less
        // server never plans this partition). A wire failure here is a
        // TASK failure — never a silent empty slice.
        val inner: DocSource with WireCounters =
          client.slicedDocs(sp.index, sp.batchSize, sp.startMs, sp.stopMs,
            sp.sliceId, sp.sliceMax, sp.requiredFields, sp.envelopeIncludes,
            sp.pitId, sp.subject)
        val docs = capped(inner, sp.perLoopCap)
        return new StatusPartitionReader(docs, None, filters, required, limit,
          topN, topNDesc) {
          override def currentMetricsValues(): Array[CustomTaskMetric] =
            super.currentMetricsValues() ++ Array[CustomTaskMetric](
              LivePagesTaskMetric(docs.pagesFetched), LiveDocsTaskMetric(docs.docsFetched))
        }
      case _ => ()
    }
    // common per-subject loop machinery for BOTH group partition shapes:
    // the inline-group form carries its subjects/stops in the partition;
    // the byte-RANGE form ([[StatusLiveRangedPartition]]) reads them from
    // the task's own slices of the staged files — the per-token state the
    // driver's O(groups) plan no longer holds, paid here where it
    // parallelizes across the cluster
    val (pUrl, pIndex, pBatch, pStart, pStop, subjectsOpt, stopsMap, reqFields, envInc, cap) =
      partition match {
        case p: StatusLivePartition =>
          (p.url, p.index, p.batchSize, p.startMs, p.stopMs, p.subjects, p.stopBySubject,
            p.requiredFields, p.envelopeIncludes, p.perLoopCap)
        case p: StatusLiveRangedPartition =>
          // hot subjects planned their own parallel drains — this tile
          // must not loop them a second time
          val subs = StatusLiveSource.readRange(p.censusPath, p.censusStart, p.censusEnd)
            .filterNot(p.excludeSubjects)
          val stops = p.stopsPath.map { sp =>
            StatusLiveSource.readRange(sp, p.stopsStart, p.stopsEnd).map { line =>
              val tab = line.lastIndexOf('\t')
              require(tab > 0, s"stopBySubjectPath line is not subject<TAB>ms: $line")
              line.substring(0, tab) -> line.substring(tab + 1).toLong
            }.toMap
          }.getOrElse(Map.empty[String, Long])
          (p.url, p.index, p.batchSize, p.startMs, p.stopMs,
            Some(subs): Option[Seq[String]], p.inlineStops ++ stops,
            p.requiredFields, p.envelopeIncludes, p.perLoopCap)
      }
    val isWindowTile = partition match {
      case p: StatusLivePartition => p.windowTile
      case _                      => false
    }
    val client = new EsHttpClient(pUrl, wire = wire)
    def loopFor(subject: Option[String]): DocSource with WireCounters = {
      // per-token EndTime (sync.go:96-100): an incremental sync's request
      // window stops at the token's oldest-synced watermark
      val stop = subject.flatMap(stopsMap.get)
        .map(math.min(_, pStop)).getOrElse(pStop)
      client.pagedDocs(pIndex, pBatch, pStart, stop, subject, reqFields, envInc)
    }
    // sequential page loops over the task's subject group (or the one
    // unfiltered loop), chained lazily into a single PARSED-document
    // stream — hits decoded once per page, never re-serialized
    val docs: DocSource with WireCounters = subjectsOpt match {
      case None => capped(loopFor(None), cap)
      case Some(group) => new DocSource with WireCounters {
        private val it = group.iterator
        private var cur: DocSource with WireCounters = _
        private var closedPages = 0L
        private var closedDocs = 0L
        override def skipped: Long = 0
        override def pagesFetched: Long =
          closedPages + (if (cur != null) cur.pagesFetched else 0L)
        override def docsFetched: Long =
          closedDocs + (if (cur != null) cur.docsFetched else 0L)
        override def next(): com.fasterxml.jackson.databind.JsonNode = {
          while (true) {
            if (cur == null) {
              if (!it.hasNext) return null
              cur = capped(loopFor(Some(it.next())), cap)
            }
            val doc = cur.next()
            if (doc != null) return doc
            closedPages += cur.pagesFetched
            closedDocs += cur.docsFetched
            cur.close(); cur = null
          }
          null // unreachable
        }
        override def close(): Unit = if (cur != null) cur.close()
      }
    }
    // the server already filtered subject/time, but re-evaluating the
    // pushed predicates client-side is free and keeps the contract local;
    // projection and bad-document policy are the file path's
    new StatusPartitionReader(docs, None, filters, required, limit, topN, topNDesc) {
      override def currentMetricsValues(): Array[CustomTaskMetric] =
        super.currentMetricsValues() ++ Array[CustomTaskMetric](
          LivePagesTaskMetric(docs.pagesFetched), LiveDocsTaskMetric(docs.docsFetched),
          LiveWindowTilesTaskMetric(if (isWindowTile) 1L else 0L))
    }
  }

  /** First-`cap`-documents view of one subject loop (DESC top-K: the loop
    * emits newest-first, so its first K docs are its top-K) — stops
    * PULLING, which stops the lazy page loop from issuing further
    * requests. `cap < 0` ⇒ unbounded.
    */
  private def capped(inner: DocSource with WireCounters, cap: Int): DocSource with WireCounters =
    if (cap < 0) inner
    else new DocSource with WireCounters {
      private var n = 0
      override def skipped: Long = inner.skipped
      override def pagesFetched: Long = inner.pagesFetched
      override def docsFetched: Long = inner.docsFetched
      override def next(): com.fasterxml.jackson.databind.JsonNode =
        if (n >= cap) null
        else { val d = inner.next(); if (d != null) n += 1; d }
      override def close(): Unit = inner.close()
    }
}
