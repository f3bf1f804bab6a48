package graft.sources

import java.time.Instant
import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, Transform, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThanOrEqual, In, IsNotNull, LessThan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSource V2 status-document source with REAL pushdown — the offline
  * stand-in for the reference's Elasticsearch index scan
  * (`internal/service/elastic/elastic.go:46-108`), which pushes subject
  * equality, a half-open time range, projection, and a page limit into the
  * store. This source accepts exactly those pushdowns over NDJSON files:
  *
  *   - `subject = 'x'`  → evaluated during the raw scan (match filter)
  *   - `time >= a` / `time < b` → evaluated on the parsed event time
  *   - column pruning → only requested envelope fields are materialized;
  *     in particular the (large) `data` payload string is never built
  *     unless asked for (`_source.includes` analog, elastic.go:67-77)
  *   - limit → per-partition early termination (`size`, elastic.go:58)
  *   - top-K on `time` (either direction) → K-bounded per-split heap
  *     (`sort time desc + size`, elastic.go:58-65); Spark keeps the global
  *     merge, each split ships only its own top-K
  *
  * `spark.read.format("graft-status").load(dir)`; `.explain` shows the
  * accepted filters under `PushedFilters`. One InputPartition per file —
  * the unit a 1000-executor cluster parallelizes over.
  */
class StatusV2Source extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-status"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = StatusV2Source.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table =
    new StatusTable(properties.get("path"))
}

object StatusV2Source {
  /** Envelope + raw payload: the 6 always-fetched `_source` fields of the
    * reference plus `data` as an unparsed JSON string.
    */
  val Schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("subject", StringType),
    StructField("source", StringType),
    StructField("specversion", StringType),
    StructField("time", TimestampType),
    StructField("dataschema", StringType),
    StructField("type", StringType), // CloudEvents type, in `_source.includes` (elastic.go:70)
    // the index's geo_point (status_mapping.json:801-804) as SURVEY §1.2's
    // lat/lon struct; malformed coordinates null out (ignore_malformed)
    StructField("location", StructType(Seq(
      StructField("lat", DoubleType),
      StructField("lon", DoubleType)))),
    StructField("data", StringType)
  ))

  /** Default split size, matching Spark's `files.maxPartitionBytes`. */
  val DefaultSplitBytes: Long = 128L * 1024 * 1024
}

class StatusTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft_status($path)"
  override def schema(): StructType = StatusV2Source.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StatusScanBuilder(path,
      options.getLong("splitBytes", StatusV2Source.DefaultSplitBytes))
}

class StatusScanBuilder(path: String, splitBytes: Long)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = StatusV2Source.Schema
  private var limit: Int = -1
  private var topN: Int = -1
  private var topNDesc: Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo("subject", _: String) => true
      case GreaterThanOrEqual("time", _) => true
      case LessThan("time", _)           => true
      case IsNotNull("subject" | "time") => true
      case _                             => false
    }
    pushed = accepted
    rejected
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Per-partition early stop only — Spark must keep its own global Limit
  // above the scan (a false here would let the planner drop it and return
  // up to limit×partitions rows).
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed: Boolean = true

  /** TopN pushdown — the reference's core page query is `sort time desc +
    * size` pushed INTO Elasticsearch (elastic.go:58-65). Accepted for a
    * single sort key on `time` (either direction): each split then returns
    * only its own top-K instead of every matching row, and Spark's global
    * `TakeOrderedAndProject` (kept, because `isPartiallyPushed` is true)
    * merges K rows per split rather than the full scan. Null ordering
    * needs no case split: the reader keeps up to K null-time rows
    * alongside the K-bounded heap, a superset of the global top-K under
    * either NULLS FIRST or LAST — the merge above discards the rest.
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

  override def build(): Scan =
    new StatusScan(path, pushed, required, limit, topN, topNDesc, splitBytes)
}

class StatusScan(path: String, filters: Array[Filter], required: StructType, limit: Int,
    topN: Int, topNDesc: Boolean, splitBytes: Long)
    extends Scan
    with Batch
    with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  /** Runtime (DPP-style) filtering on `subject` — the ES `terms` query
    * analog: when a join's build side completes, Spark hands the scan the
    * actual subject set and partitions are RE-planned carrying it, so
    * every reader drops non-matching documents at parse time instead of
    * shipping them into the join. The set rides inside the re-planned
    * [[StatusFilePartition]]s (not scan state) so it serializes to
    * executors regardless of when the reader factory was created.
    */
  @volatile private var runtimeSubjects: Option[Set[String]] = None

  // advertised only while `subject` survives column pruning: Spark's
  // PartitionPruning resolves these refs against the pruned scan output
  // and THROWS on a miss (ShardedSourceSpec's broadcast test caught this)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (required.fieldNames.contains("subject"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("subject"))
    else Array.empty

  override def filter(runtimeFilters: Array[Filter]): Unit = runtimeFilters.foreach {
    // capped like the sharded source's token set: runtime filters are
    // advisory, and this set rides inside every serialized partition
    case In("subject", vs) if vs.length <= ShardedSignalSource.MaxRuntimeInSet =>
      runtimeSubjects = Some(vs.collect { case s: String => s }.toSet)
    case EqualTo("subject", v: String) => runtimeSubjects = Some(Set(v))
    case _ => () // unsupported/oversized runtime filter: ignore (advisory)
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"graft-status path=$path pushed=[${filters.mkString(", ")}] limit=$limit" +
      (if (topN >= 0) s" topN=$topN time ${if (topNDesc) "DESC" else "ASC"}" else "")

  /** One partition per BYTE RANGE, not per file: a single huge NDJSON file
    * must not serialize into one task. Ranges are newline-aligned at read
    * time (a line belongs to the range holding its first byte; a range
    * starting mid-line skips forward to the next line start), so any split
    * boundary yields identical results.
    */
  private def dataFiles: Array[String] = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles().filter(x => x.isFile && !x.getName.startsWith(".")).map(_.getPath).sorted
    else Array(path)
  }

  /** Source statistics for the planner's join-side decisions
    * (`SupportsReportStatistics`): real on-disk bytes instead of the
    * session default (Long.MaxValue → never broadcast), so a small status
    * snapshot joined against a big fact broadcasts on DATA, not luck.
    * NDJSON is uncompressed and the envelope dominates, so file bytes ≈
    * in-memory size; row-level pushed filters don't shrink the estimate
    * (upper bound — the planner errs toward the safe non-broadcast side).
    * A pushed limit/TopN bounds the row count at ≤ (2·)K per split.
    */
  override def estimateStatistics(): Statistics = {
    val bytes = dataFiles.map(new java.io.File(_).length()).sum
    val nSplits = dataFiles.map { p =>
      val len = new java.io.File(p).length()
      if (ByteRangeLines.isCompressed(p)) 1L else math.max(1L, (len + splitBytes - 1) / splitBytes)
    }.sum
    val rowBound: java.util.OptionalLong =
      if (topN >= 0) java.util.OptionalLong.of(2L * topN * nSplits)
      else if (limit >= 0) java.util.OptionalLong.of(limit.toLong * nSplits)
      else java.util.OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rowBound
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val files = dataFiles
    files.flatMap { p =>
      val len = new java.io.File(p).length()
      // gzip parts are non-splittable (Hadoop's rule): whole-file range
      if (len <= splitBytes || ByteRangeLines.isCompressed(p))
        Seq(StatusFilePartition(p, 0L, Long.MaxValue, runtimeSubjects): InputPartition)
      else {
        val n = ((len + splitBytes - 1) / splitBytes).toInt
        (0 until n).map { i =>
          val start = i * splitBytes
          val end = math.min(start + splitBytes, len)
          StatusFilePartition(p, start, end, runtimeSubjects): InputPartition
        }
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new StatusReaderFactory(filters, required, limit, topN, topNDesc)

  // Observability: malformed-line skips are a first-class metric (the
  // reference only logs them, sync.go:193-203), surfaced per-scan in the
  // SQL UI / metrics sink.
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new SkippedLinesMetric)
}

class SkippedLinesMetric extends CustomSumMetric {
  override def name(): String = "skippedLines"
  override def description(): String = "malformed status lines skipped"
}

case class SkippedLinesTaskMetric(value: Long) extends CustomTaskMetric {
  override def name(): String = "skippedLines"
}

/** Byte range of one NDJSON file; owns the lines starting in `(start,
  * end]`, plus the first line when `start = 0` (see [[ByteRangeLines]]).
  * `end = Long.MaxValue` means "to EOF" (whole-file partition).
  * `subjectIn`: runtime-filter subject set (None = no runtime filter).
  */
case class StatusFilePartition(path: String, start: Long, end: Long,
    subjectIn: Option[Set[String]] = None) extends InputPartition

class StatusReaderFactory(filters: Array[Filter], required: StructType, limit: Int,
    topN: Int, topNDesc: Boolean)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[StatusFilePartition]
    new StatusPartitionReader(new LineDocSource(new ByteRangeLines(p.path, p.start, p.end)),
      p.subjectIn, filters, required, limit, topN, topNDesc)
  }
}

/** A stream of raw NDJSON document lines — the decode path's input seam.
  * [[ByteRangeLines]] feeds it from file byte ranges; the LIVE
  * Elasticsearch source ([[StatusLiveSource]]) feeds it from paged
  * `_search` responses — one parser, one predicate evaluator, one
  * malformed-line policy for both.
  */
private[sources] trait LineSource {
  /** Next raw line, or null when exhausted. */
  def next(): Array[Byte]
  def close(): Unit
}

/** Wire-level counters a live [[LineSource]] can expose — surfaced as the
  * live scan's custom SQL metrics (pages fetched, documents shipped).
  */
private[sources] trait WireCounters {
  def pagesFetched: Long
  def docsFetched: Long
}

/** A stream of PARSED JSON documents — the decode core's input seam. The
  * FILE transport parses NDJSON lines into it ([[LineDocSource]],
  * unparseable lines counted); the LIVE transport hands `_search` hits
  * straight from the response tree — parsed ONCE per page, never
  * re-serialized (the render→reparse detour measured 52% of per-doc
  * extract CPU). Still one predicate evaluator, one projection, one
  * malformed policy — two transports.
  */
private[graft] trait DocSource {
  /** Next parsed document, or null when exhausted. */
  def next(): com.fasterxml.jackson.databind.JsonNode
  /** Inputs this transport dropped as unparseable (counts toward the
    * reader's skipped-lines metric).
    */
  def skipped: Long
  def close(): Unit
}

/** NDJSON [[LineSource]] → [[DocSource]]: the file transport's parse step
  * (the reference's bad-document tolerance, sync.go:193-203 — a line that
  * does not parse is counted and skipped, never fatal).
  */
private[graft] final class LineDocSource(lines: LineSource) extends DocSource {
  private var bad = 0L
  override def next(): com.fasterxml.jackson.databind.JsonNode = {
    var line = lines.next()
    while (line != null) {
      if (line.nonEmpty) {
        try {
          val n = EsQueryDsl.mapper.readTree(line)
          if (n != null) return n
          bad += 1
        } catch { case scala.util.control.NonFatal(_) => bad += 1 }
      }
      line = lines.next()
    }
    null
  }
  override def skipped: Long = bad
  override def close(): Unit = lines.close()
}

/** Byte-counting line iterator over a range of a file. Newline alignment
  * (Hadoop line-reader convention): a non-zero-start range discards
  * everything through its first newline — that prefix is owned by the
  * previous range, which reads inclusively through any line starting
  * exactly at its `end`. Byte-exact while counting (no char decoding);
  * UTF-8 decode happens per returned line.
  */
private[sources] object ByteRangeLines {
  /** Non-splittable compressed part files both planners must keep whole —
    * UNLESS a granule index provides frame-aligned offsets (`exact` mode).
    */
  def isCompressed(path: String): Boolean =
    path.endsWith(".gz") || path.endsWith(".zst")

  /** EOFs after `limit` bytes of the inner stream — the compressed-range
    * bound for exact (granule-aligned) reads.
    */
  private[sources] final class BoundedIn(inner: java.io.InputStream, limit: Long)
      extends java.io.InputStream {
    private var remaining = limit
    override def read(): Int =
      if (remaining <= 0) -1
      else { val b = inner.read(); if (b >= 0) remaining -= 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (remaining <= 0) return -1
      val n = inner.read(b, off, math.min(len.toLong, remaining).toInt)
      if (n > 0) remaining -= n
      n
    }
    // honest available(): GZIPInputStream consults it to decide whether a
    // further concatenated member may follow — past the bound it must be 0
    override def available(): Int =
      math.min(inner.available().toLong, math.max(remaining, 0L)).toInt
    override def close(): Unit = inner.close()
  }
}

/** `exact = false` (default): the Hadoop split convention — `start`/`end`
  * are arbitrary byte positions, ownership by first-newline discipline,
  * compressed files whole-file only. `exact = true`: `start` is a known
  * LINE START and, for compressed files, a compression-frame boundary
  * (granule offsets from [[GranuleIndex]]); the range reads as seek +
  * bounded decode to EOF — no line is skipped or shared. `end =
  * Long.MaxValue` means to-EOF in both modes.
  */
private[graft] class ByteRangeLines(path: String, start: Long, end: Long,
    exact: Boolean = false) extends LineSource {
  // Chunk-buffered scan, not byte-at-a-time read(): one virtual call per
  // 64 KB block instead of one per BYTE (the r8 SplitScanProbe profile
  // showed the per-byte BufferedInputStream.read() dominating the whole
  // raw-scan path). The common case — a line entirely inside the current
  // block — is a single memchr-style scan plus one copyOfRange.
  //
  // `.gz` / `.zst` paths decode transparently — standard gzip and zstd
  // frames are NON-SPLITTABLE codecs (Hadoop's rule), so callers must
  // hand a compressed file the whole (0, MaxValue) range; the planners
  // enforce it by never byte-range splitting such files.
  private val compressed = ByteRangeLines.isCompressed(path)
  require(!compressed || start == 0L || exact,
    s"compressed files are not splittable: $path must be read as one whole-file range " +
      "(or at granule-aligned exact offsets)")
  private val fileIn = new java.io.FileInputStream(path)
  // exact mode: seek to the (line-start / frame-start) offset and bound the
  // RAW bytes to the range — the codec then decodes whole frames to EOF
  private val base: java.io.InputStream = {
    if (exact && start > 0) fileIn.getChannel.position(start)
    if (exact && end != Long.MaxValue) new ByteRangeLines.BoundedIn(fileIn, end - start)
    else fileIn
  }
  private val in: java.io.InputStream =
    if (path.endsWith(".gz")) new java.util.zip.GZIPInputStream(base, 1 << 16)
    else if (path.endsWith(".zst"))
      new com.github.luben.zstd.ZstdInputStream(new java.io.BufferedInputStream(base, 1 << 16))
    else base
  // ownership cutoff position (split mode); exact mode is bounded by BYTES
  // above, so its line loop runs to (bounded) EOF
  private val posLimit: Long = if (exact) Long.MaxValue else end
  private var pos = 0L
  private val block = new Array[Byte](1 << 16)
  private var blockLen = 0
  private var blockPos = 0
  locally {
    if (!exact && start > 0) {
      fileIn.getChannel.position(start)
      pos = start
      readLine() // partial line: owned by the previous range
    }
  }

  private def fill(): Boolean = {
    blockLen = in.read(block)
    blockPos = 0
    blockLen > 0
  }

  /** Next raw line (without the newline), or null at EOF. */
  private def readLine(): Array[Byte] = {
    if (blockPos >= blockLen && !fill()) return null
    var spill: java.io.ByteArrayOutputStream = null
    var lineStart = blockPos
    while (true) {
      var i = blockPos
      while (i < blockLen && block(i) != '\n') i += 1
      if (i < blockLen) { // newline inside the block
        pos += (i - blockPos) + 1
        blockPos = i + 1
        val arr =
          if (spill == null) java.util.Arrays.copyOfRange(block, lineStart, i)
          else { spill.write(block, lineStart, i - lineStart); spill.toByteArray }
        return stripCr(arr)
      }
      // line continues past the block: spill and refill
      pos += blockLen - blockPos
      if (spill == null) spill = new java.io.ByteArrayOutputStream(8192)
      spill.write(block, lineStart, blockLen - lineStart)
      if (!fill()) return stripCr(spill.toByteArray) // EOF without newline
      lineStart = 0
    }
    null // unreachable
  }

  // tolerate \r\n line endings
  private def stripCr(arr: Array[Byte]): Array[Byte] =
    if (arr.nonEmpty && arr(arr.length - 1) == '\r') java.util.Arrays.copyOf(arr, arr.length - 1)
    else arr

  /** Next owned line, else null. Ownership convention (Hadoop line-reader
    * style): every range discards its first line (unless start = 0), so a
    * range must read INCLUSIVELY through a line starting exactly at `end`
    * — that line is the next range's discarded first line. Together: no
    * line is lost or duplicated wherever the byte boundary lands.
    */
  def next(): Array[Byte] =
    if (pos > posLimit) null else readLine()

  /** Counts the remaining owned NON-EMPTY lines (the parse loops' empty-
    * line skip rule) without materializing any of them — no copyOfRange,
    * no spill buffer, just block scans. Ownership semantics identical to
    * `next()`. This is the `SELECT count()` fragment at store speed: a
    * count never needs fields, so it never needs lines.
    */
  def countNonEmpty(): Long = {
    var n = 0L
    while (pos <= posLimit) {
      val len = readLineLen()
      if (len < 0) return n
      if (len > 0) n += 1
    }
    n
  }

  /** `readLine()` without the bytes: stripped line length, or -1 at EOF. */
  private def readLineLen(): Long = {
    if (blockPos >= blockLen && !fill()) return -1L
    var len = 0L
    var last: Byte = 0
    while (true) {
      var i = blockPos
      while (i < blockLen && block(i) != '\n') i += 1
      if (i > blockPos) last = block(i - 1)
      len += i - blockPos
      if (i < blockLen) { // newline inside the block
        pos += (i - blockPos) + 1
        blockPos = i + 1
        return if (len > 0 && last == '\r') len - 1 else len
      }
      pos += blockLen - blockPos
      if (!fill()) // EOF without newline: entry guard ensures len >= 1 here
        return if (last == '\r') len - 1 else len
    }
    -1L // unreachable
  }

  def close(): Unit = in.close()
}

/** Document-by-document decode core evaluating the pushed predicates
  * natively (the "store side" of the pushdown) and materializing only
  * required columns, over a [[DocSource]] — parsed docs in, so the live
  * transport never re-serializes its already-parsed hits. Malformed
  * inputs are skipped — the reference's bad-document tolerance
  * (`sync.go:193-203`).
  */
class StatusPartitionReader private[graft] (docs: DocSource,
    subjectIn: Option[Set[String]], filters: Array[Filter], required: StructType,
    limit: Int, topN: Int, topNDesc: Boolean)
    extends PartitionReader[InternalRow] {

  private var current: InternalRow = _
  private var emitted = 0
  private var skipped = 0L
  // time (micros) of the row `advance()` just produced; null ⇒ no/bad time
  private var currentTimeUs: java.lang.Long = _

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(SkippedLinesTaskMetric(skipped + docs.skipped))

  // EVERY pushed conjunct is enforced here, even ones the transport layer
  // already applied (free, and it keeps the pushFilters contract local):
  // all subject equalities (not just the first — `subject = a AND subject
  // = b` must yield nothing), pushed IN-sets, the TIGHTEST of duplicate
  // range bounds (max of >=, min of <), and IsNotNull — Spark removes an
  // accepted filter from the post-scan plan, so a bare `time IS NOT NULL`
  // must drop null-time rows HERE or nowhere.
  private val subjectEqs: Seq[String] = filters.collect { case EqualTo("subject", v: String) => v }
  private val subjectInSets: Seq[Set[String]] = filters.collect {
    case In("subject", vs) => vs.collect { case s: String => s }.toSet
  }
  private val notNullSubject: Boolean = filters.exists {
    case IsNotNull("subject") => true; case _ => false
  }
  private val notNullTime: Boolean = filters.exists {
    case IsNotNull("time") => true; case _ => false
  }
  private def tsMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case i: Instant            => i.getEpochSecond * 1000000L + i.getNano / 1000
    case other                 => throw new IllegalArgumentException(s"unsupported time literal: $other")
  }
  private val timeGte: Option[Long] = filters.collect { case GreaterThanOrEqual("time", v) => tsMicros(v) }
    .reduceOption(_ max _)
  private val timeLt: Option[Long] = filters.collect { case LessThan("time", v) => tsMicros(v) }
    .reduceOption(_ min _)

  /** Advance to the next document passing the pushed predicates; sets
    * `current` (+ `currentTimeUs`). The raw streaming path.
    */
  private def advance(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    var node = docs.next()
    while (node != null) {
      try {
        if (!node.isObject) skipped += 1
        else {
          val subject = Option(node.get("subject")).filter(_.isTextual).map(_.asText())
          val timeUs = Option(node.get("time")).filter(_.isTextual).flatMap { t =>
            try {
              val i = Instant.parse(t.asText())
              Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
            } catch { case _: Exception => None }
          }
          val pass =
            subjectEqs.forall(s => subject.contains(s)) &&
              subjectInSets.forall(set => subject.exists(set.contains)) &&
              subjectIn.forall(set => subject.exists(set.contains)) &&
              (!notNullSubject || subject.isDefined) &&
              (!notNullTime || timeUs.isDefined) &&
              timeGte.forall(g => timeUs.exists(_ >= g)) &&
              timeLt.forall(l => timeUs.exists(_ < l))
          if (pass) {
            val values = required.fields.map { f =>
              f.name match {
                case "time" => timeUs.map(Long.box).orNull
                case "data" =>
                  Option(node.get("data")).map(d => UTF8String.fromString(d.toString)).orNull
                case "location" =>
                  Option(node.get("location")).filter(_.isObject).map { loc =>
                    def coord(k: String): Any =
                      Option(loc.get(k)).flatMap { v =>
                        try Some(Double.box(v.asText().toDouble))
                        catch { case _: Exception => None } // ignore_malformed
                      }.orNull
                    InternalRow(coord("lat"), coord("lon"))
                  }.orNull
                case other =>
                  Option(node.get(other)).filter(_.isTextual)
                    .map(v => UTF8String.fromString(v.asText())).orNull
              }
            }
            current = InternalRow.fromSeq(values.toIndexedSeq)
            currentTimeUs = timeUs.map(Long.box).orNull
            emitted += 1
            return true
          }
        }
      } catch { case _: Exception => skipped += 1 } // malformed document ⇒ skip + count
      node = docs.next()
    }
    false
  }

  // ── TopN mode (pushTopN accepted): ONE pass over the split keeping a
  // K-bounded binary heap on time — desc keeps the K largest via a
  // min-heap, asc the K smallest via a max-heap — plus up to K null-time
  // rows (correct superset under either null ordering; Spark's retained
  // global TakeOrdered discards extras). Memory is O(K), the rows it
  // emits per split are ≤ 2K, and emission order is irrelevant — the
  // merge above re-sorts. Rows are per-line fresh InternalRows, safe to
  // retain without copy.
  private var topNFilled = false
  private var topNOut: java.util.ArrayDeque[InternalRow] = _

  private def fillTopN(): Unit = {
    val cmp: java.util.Comparator[(Long, InternalRow)] =
      if (topNDesc) java.util.Comparator.comparingLong((p: (Long, InternalRow)) => p._1)
      else java.util.Comparator.comparingLong((p: (Long, InternalRow)) => p._1).reversed()
    val heap = new java.util.PriorityQueue[(Long, InternalRow)](math.max(topN, 1), cmp)
    topNOut = new java.util.ArrayDeque[InternalRow]()
    var nNulls = 0
    while (advance()) {
      if (currentTimeUs == null) {
        if (nNulls < topN) { topNOut.add(current); nNulls += 1 }
      } else {
        heap.add((currentTimeUs.longValue(), current))
        if (heap.size() > topN) heap.poll() // evict the worst-ranked row
      }
    }
    while (!heap.isEmpty) topNOut.add(heap.poll()._2)
  }

  override def next(): Boolean =
    if (topN >= 0) {
      if (!topNFilled) { fillTopN(); topNFilled = true }
      if (topNOut.isEmpty) false
      else { current = topNOut.poll(); true }
    } else advance()

  override def get(): InternalRow = current

  override def close(): Unit = docs.close()
}
