package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, Transform, Expression => V2Expression, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, IsNotNull, LessThan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.ClickHouseHttpClient.escapeStr

/** LIVE ClickHouse signal-table source (`graft-signal-live`) — the READ
  * half of the wire tier whose write half is
  * [[ClickHouseHttpClient.insertSignals]]: a DSv2 batch source whose
  * pushdowns COMPILE TO ClickHouse SQL over the public HTTP interface, so
  * the store executes them against its own primary key
  * (`ORDER BY (token_id, timestamp)` — [[ClickHouseDdl]], the reference's
  * table, migrations/0002_signal.sql [ext]) instead of shipping rows for
  * Spark to discard:
  *
  *   - column pruning → the SELECT list (timestamps travel as
  *     `toUnixTimestamp64Micro(...)` — zone-independent, the read twin of
  *     the writer's epoch-decimal CSV convention);
  *   - filters (token_id =/IN/range, name =/IN, timestamp range,
  *     IS NOT NULL) → the WHERE clause, every conjunct translated, so
  *     acceptance IS enforcement (the server applies them all);
  *   - LIMIT → `LIMIT n` per partition (partial — Spark keeps the global);
  *   - COUNT/COUNT(c)/MIN/MAX/SUM with GROUP BY ⊂ {token_id, name} →
  *     one aggregate statement per partition, PARTIAL pushdown
  *     ([[ShardedScanBuilder]]'s contract): each token range returns its
  *     per-group partials and Spark's retained final aggregate merges —
  *     at 100 TB the store answers `GROUP BY` from its own index and the
  *     wire carries groups, not rows.
  *
  * Parallelism: planning asks the server for `min/max(token_id), count()`
  * once, then fans the token space into `partitions` (default 8)
  * contiguous ranges — each task's WHERE lands inside the table's primary
  * key, the same split a distributed CH cluster serves index-locally.
  *
  * Options: `url` (required), `table` (default `signal`), `partitions`.
  * Zero dependencies beyond the JDK HTTP stack; loopback-stub-tested.
  */
class SignalLiveSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-signal-live"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = SignalLiveSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SignalLiveTable(
      Option(properties.get("url")).getOrElse(
        throw new IllegalArgumentException("graft-signal-live requires option url")),
      Option(properties.get("table")).getOrElse("signal"),
      Option(properties.get("partitions")).map(_.toInt).getOrElse(8),
      LiveWire.fromOptions(k => Option(properties.get(k))))
}

object SignalLiveSource {
  /** The reference's signal-table shape (vss.signal). */
  val Schema: StructType = StructType(Seq(
    StructField("token_id", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("value_number", DoubleType, nullable = true),
    StructField("value_string", StringType, nullable = true)))

  /** One SELECT-list item; `timestamp` reads as epoch micros (TZ-safe). */
  def selectExpr(col: String): String =
    if (col == "timestamp") "toUnixTimestamp64Micro(`timestamp`)" else s"`$col`"

  private[sources] def usOf(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case i: java.time.Instant  => i.getEpochSecond * 1000000L + i.getNano / 1000
    case other => throw new IllegalArgumentException(s"unsupported time literal: $other")
  }

  /** Epoch-micros → the exact Timestamp the filter translation round-trips
    * (streaming window bounds are built from offsets in micros).
    */
  private[sources] def tsOfUs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  private def longOf(v: Any): Long = v match {
    case l: Long => l; case i: Int => i.toLong
    case other => throw new IllegalArgumentException(s"unsupported long literal: $other")
  }

  /** Translate one accepted filter to a CH WHERE atom. Must stay in
    * lockstep with [[supportedFilter]] — acceptance is enforcement only
    * because everything accepted lands here.
    */
  def whereAtom(f: Filter): String = f match {
    case EqualTo("token_id", v)            => s"`token_id` = ${longOf(v)}"
    case In("token_id", vs)                => vs.map(longOf).mkString("`token_id` IN (", ",", ")")
    case GreaterThanOrEqual("token_id", v) => s"`token_id` >= ${longOf(v)}"
    case LessThan("token_id", v)           => s"`token_id` < ${longOf(v)}"
    case EqualTo("name", s: String)        => s"`name` = '${escapeStr(s)}'"
    case In("name", vs)                    =>
      vs.collect { case s: String => s"'${escapeStr(s)}'" }.mkString("`name` IN (", ",", ")")
    case GreaterThanOrEqual("timestamp", v) =>
      s"`timestamp` >= fromUnixTimestamp64Micro(${usOf(v)})"
    case LessThan("timestamp", v)          =>
      s"`timestamp` < fromUnixTimestamp64Micro(${usOf(v)})"
    case IsNotNull(c) if Schema.fieldNames.contains(c) => s"`$c` IS NOT NULL"
    case other => throw new IllegalArgumentException(s"untranslatable filter: $other")
  }

  def supportedFilter(f: Filter): Boolean = f match {
    case EqualTo("token_id", (_: Long | _: Int))            => true
    case In("token_id", vs) if vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Int]) => true
    case GreaterThanOrEqual("token_id", (_: Long | _: Int)) => true
    case LessThan("token_id", (_: Long | _: Int))           => true
    case EqualTo("name", _: String)                         => true
    case In("name", vs) if vs.forall(_.isInstanceOf[String]) => true
    case GreaterThanOrEqual("timestamp", _)                 => true
    case LessThan("timestamp", _)                           => true
    case IsNotNull(c)                                       => Schema.fieldNames.contains(c)
    case _                                                  => false
  }

  def whereClause(filters: Seq[Filter], extra: Seq[String] = Nil): String = {
    val atoms = filters.map(whereAtom) ++ extra
    if (atoms.isEmpty) "" else atoms.mkString(" WHERE ", " AND ", "")
  }

  /** CH TabSeparated unescape (\t, \n, \\; `\N` is the NULL marker and is
    * handled by the caller).
    */
  def unescapeTsv(s: String): String = {
    if (!s.contains('\\')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't'   => sb.append('\t'); i += 2
          case 'n'   => sb.append('\n'); i += 2
          case '\\'  => sb.append('\\'); i += 2
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

class SignalLiveTable(url: String, table: String, partitions: Int,
    wire: LiveWire = LiveWire.default)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft_signal_live($url/$table)"
  override def schema(): StructType = SignalLiveSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SignalLiveScanBuilder(url, table, partitions, wire)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SignalLiveWriteBuilder(url, table, info.schema(), info.queryId(), wire)
}

/** DSv2 append into ClickHouse over HTTP: `df.write.format
  * ("graft-signal-live")` — the idiomatic form of
  * [[ClickHouseHttpClient.insertSignals]]. Every task POSTs its own CSV
  * batches from the executor (the distributed InsertIntoClickhouse,
  * clickhouse.go:113-130 [ext]); timestamps ship as epoch-seconds
  * decimals (zone-independent).
  *
  * Commit semantics: an INSERT is visible as soon as the server accepts
  * it (one part per batch, no staging), but every batch carries a
  * DETERMINISTIC `insert_deduplication_token`
  * (`graft-<queryId>-p<partition>-b<ordinal>-<sha256 of the batch's CSV
  * bytes>`), so the token is the identity of the CONTENT, not just the
  * position: a retried task whose upstream re-produces the same rows in
  * the same order re-sends byte-identical batches under identical tokens
  * and the server drops them — EXACTLY-ONCE on a Replicated*MergeTree
  * (and on a plain MergeTree with `non_replicated_deduplication_window`
  * set); tokened inserts are also transport-retry-safe. When the upstream
  * is NONDETERMINISTIC across attempts — the COMMON Spark case for a
  * shuffled input (round-robin repartition and shuffle-fetch order are
  * not stable), exactly what `repartition(n).write` feeds this writer —
  * a retry's re-batched rows hash to DIFFERENT tokens and every block
  * lands: at-least-once with possible duplicates, never silent loss. (A
  * position-only token would be worse than none there: the server would
  * drop the retry's first batches BY TOKEN even though their recomputed
  * content differs, silently losing whichever rows moved into them.) The
  * reference deployment (no tokens at all) duplicates on every retry.
  */
class SignalLiveWriteBuilder(url: String, table: String, schema: StructType,
    queryId: String, wire: LiveWire = LiveWire.default)
    extends org.apache.spark.sql.connector.write.WriteBuilder {
  import org.apache.spark.sql.connector.write._
  locally {
    val ok = Set[DataType](LongType, IntegerType, DoubleType, StringType, TimestampType)
    val bad = schema.fields.filterNot(f => ok.contains(f.dataType))
    require(bad.isEmpty, s"graft-signal-live cannot serialize columns: ${bad.mkString(", ")}")
  }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new SignalLiveWriterFactory(url, table, schema, queryId, wire)
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
    /** `df.writeStream.format("graft-signal-live")` — the CONTINUOUS form
      * of the reference's sync sink (its loop inserts into CH forever,
      * sync.go:92-125 [ext]): each micro-batch's tasks POST their CSV
      * batches under tokens namespaced by (query, EPOCH, partition,
      * ordinal, content hash). Epoch-level exactly-once needs no sink-side
      * commit log: a failed epoch is re-executed by Spark under the SAME
      * epochId, a deterministic upstream re-produces byte-identical
      * batches under identical tokens, and the server drops the re-sends
      * — the same dedup contract as the batch writer, extended by the
      * epoch namespace so two DIFFERENT epochs carrying identical content
      * both land. commit/abort are no-ops for the same reason the batch
      * form's are: CH INSERTs are visible on acceptance, and the tokens —
      * not a staging protocol — carry the idempotence.
      */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
        override def createStreamingWriterFactory(info: PhysicalWriteInfo)
            : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
          new SignalLiveStreamingWriterFactory(url, table, schema, queryId, wire)
        override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
        override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
      }
  }
}

class SignalLiveStreamingWriterFactory(url: String, table: String, schema: StructType,
    queryId: String, wire: LiveWire = LiveWire.default)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    // the batch writer with the epoch folded into the token namespace:
    // a re-executed epoch dedups, distinct epochs never cross-dedup
    SignalLiveWriterFactory.writer(url, table, schema, s"$queryId-e$epochId",
      partitionId, wire)
}

class SignalLiveWriterFactory(url: String, table: String, schema: StructType,
    queryId: String, wire: LiveWire = LiveWire.default)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    SignalLiveWriterFactory.writer(url, table, schema, queryId, partitionId, wire)
}

object SignalLiveWriterFactory {
  /** The shared task-side writer: CSV batches POSTed under content-hashed
    * dedup tokens `graft-<ns>-p<partition>-b<ordinal>-<sha256/12>`. The
    * batch form's namespace is the queryId; the streaming form appends
    * the epoch ([[SignalLiveStreamingWriterFactory]]).
    */
  private[sources] def writer(url: String, table: String, schema: StructType,
      ns: String, partitionId: Int, wire: LiveWire)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val client = new ClickHouseHttpClient(url, wire = wire)
      private val columns = schema.fieldNames.toSeq
      private val sb = new java.lang.StringBuilder(1 << 16)
      private var n = 0
      private var batchOrdinal = 0
      private def flush(): Unit = if (sb.length() > 0) {
        val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        // the token binds (query, partition, ordinal) AND the batch's
        // content hash: a deterministic retry re-sends identical bytes ⇒
        // identical token ⇒ server-side dedup (exactly-once); a reordered
        // retry hashes differently ⇒ the block lands (at-least-once, never
        // the silent loss a position-only token causes — see class doc)
        val digest = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        val hash = digest.take(12).map(b => f"$b%02x").mkString
        client.insertCsv(table, columns, bytes,
          dedupToken = Some(s"graft-$ns-p$partitionId-b$batchOrdinal-$hash"))
        batchOrdinal += 1
        sb.setLength(0); n = 0
      }
      override def write(row: InternalRow): Unit = {
        var i = 0
        while (i < columns.length) {
          if (i > 0) sb.append(',')
          if (!row.isNullAt(i)) schema.fields(i).dataType match {
            case StringType =>
              sb.append('"')
                .append(row.getUTF8String(i).toString.replace("\"", "\"\"")).append('"')
            case TimestampType =>
              val us = row.getLong(i) // micros since epoch (floorDiv composes pre-1970)
              sb.append(Math.floorDiv(us, 1000000L)).append('.')
                .append(f"${Math.floorMod(us, 1000000L)}%06d")
            case LongType    => sb.append(row.getLong(i))
            case IntegerType => sb.append(row.getInt(i))
            case DoubleType  => sb.append(row.getDouble(i))
            case other => throw new IllegalArgumentException(s"unsupported type: $other")
          }
          i += 1
        }
        sb.append('\n')
        n += 1
        if (n >= 65536) flush() // ClickHouse-sized insert batches
      }
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
        flush()
        new org.apache.spark.sql.connector.write.WriterCommitMessage {}
      }
      override def abort(): Unit = () // accepted batches are already visible (see scaladoc)
      override def close(): Unit = ()
    }
}

/** Pushed-aggregation state: group cols ++ `agg_i` columns, the order
  * `V2ScanRelationPushDown` zips against ([[ShardPushedAgg]]'s contract).
  */
case class ChPushedAgg(groupCols: Seq[String], aggs: Seq[(String, String)]) {
  def outputSchema: StructType = {
    def f(n: String) = SignalLiveSource.Schema.fields.find(_.name == n).get
    StructType(groupCols.map(f) ++ aggs.zipWithIndex.map {
      case (("count_star", _), i) => StructField(s"agg_$i", LongType, nullable = false)
      case (("count", _), i)      => StructField(s"agg_$i", LongType, nullable = false)
      case ((_, c), i)            => StructField(s"agg_$i", f(c).dataType, nullable = true)
    })
  }
  def selectList: String =
    (groupCols.map(SignalLiveSource.selectExpr) ++ aggs.map {
      case ("count_star", _)     => "count()"
      case ("count", c)          => s"count(`$c`)"
      case (op, "timestamp")     => s"toUnixTimestamp64Micro($op(`timestamp`))"
      case (op, c)               => s"$op(`$c`)"
    }).mkString(", ")
  def groupBy: String =
    if (groupCols.isEmpty) "" else groupCols.map(c => s"`$c`").mkString(" GROUP BY ", ", ", "")
}

class SignalLiveScanBuilder(url: String, table: String, partitions: Int,
    wire: LiveWire = LiveWire.default)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = SignalLiveSource.Schema
  private var limit: Int = -1
  private var topN: Int = -1
  private var topNDesc: Boolean = true
  private var pushedAgg: Option[ChPushedAgg] = None

  /** `ORDER BY timestamp [DESC] LIMIT k` pushed into ClickHouse — the
    * reference's oldest-signal statement IS this pushdown at k = 1
    * (`QueryOldestSignal`, clickhouse.go:65-87 [ext]: ORDER BY
    * `timestamp` ASC LIMIT 1): each token-range partition ships its own
    * top-k straight off the (token_id, timestamp) primary key and
    * Spark's retained global TakeOrdered merges.
    */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    val onTs = pushedAgg.isEmpty && orders.length == 1 && (orders(0).expression() match {
      case nr: NamedReference => nr.fieldNames().length == 1 && nr.fieldNames()(0) == "timestamp"
      case _                  => false
    })
    if (onTs) {
      topN = l
      topNDesc = orders(0).direction() == SortDirection.DESCENDING
      true
    } else false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(SignalLiveSource.supportedFilter)
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (pushedAgg.isEmpty)
      required = StructType(SignalLiveSource.Schema.fields.filter(f =>
        requiredSchema.fieldNames.contains(f.name)))

  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed: Boolean = true

  private def refName(e: V2Expression): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames().length == 1 =>
      Some(nr.fieldNames()(0)).filter(SignalLiveSource.Schema.fieldNames.contains)
    case _ => None
  }

  /** PARTIAL aggregate pushdown (the [[ShardedScanBuilder]] contract,
    * `supportCompletePushDown` stays false): each token-range partition
    * answers `SELECT groups, aggs … GROUP BY groups` server-side and
    * Spark's retained final aggregate merges the partials — correct under
    * any partitioning, and the wire carries groups instead of rows.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val groups = aggregation.groupByExpressions().toSeq.map(refName)
    if (groups.exists(g => g.isEmpty || !Seq("token_id", "name").contains(g.get))) return false
    val summable: String => Boolean = c =>
      SignalLiveSource.Schema.fields.find(_.name == c).exists(f =>
        f.dataType == LongType || f.dataType == DoubleType)
    val aggs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(("count_star", ""))
      case c: Count if !c.isDistinct => refName(c.column).map(("count", _))
      // min/max work on every column type CH stores (strings ordered
      // lexicographically, DateTime64 chronologically)
      case m: Min => refName(m.column).map(("min", _))
      case m: Max => refName(m.column).map(("max", _))
      case s: Sum if !s.isDistinct => refName(s.column).filter(summable).map(("sum", _))
      case _: AggregateFunc => None
    }
    if (aggs.exists(_.isEmpty)) return false
    pushedAgg = Some(ChPushedAgg(groups.map(_.get), aggs.map(_.get)))
    true
  }

  override def build(): Scan =
    new SignalLiveScan(url, table, partitions, pushed, required, limit, pushedAgg,
      topN, topNDesc, wire = wire)
}

case class SignalLivePartition(url: String, table: String, sql: String,
    schema: StructType) extends InputPartition

class SignalLiveScan(url: String, table: String, partitions: Int,
    filters: Array[Filter], required: StructType, limit: Int,
    pushedAgg: Option[ChPushedAgg],
    topN: Int = -1, topNDesc: Boolean = true,
    wire: LiveWire = LiveWire.default)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering {

  override def readSchema(): StructType = pushedAgg.map(_.outputSchema).getOrElse(required)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-signal-live $url/$table pushed=[${filters.mkString(", ")}]" +
      (if (limit >= 0) s" limit=$limit" else "") +
      (if (topN >= 0) s" topN=$topN timestamp ${if (topNDesc) "DESC" else "ASC"}" else "") +
      pushedAgg.map(pa => s" agg=[${pa.selectList}]").getOrElse("")

  /** Runtime token filter (DSv2 DPP): a broadcast join's build side hands
    * this scan its ACTUAL key set after it materializes — folded into the
    * planning envelope AND every partition's WHERE, so at 100 TB a join
    * against a handful of hot tokens sends the store a `token_id IN`
    * point lookup (its primary-key fast path) instead of reading the
    * whole pushed range and discarding in the join. The reference's
    * per-token correlated lookup (clickhouse.go:65-87 [ext]), arriving
    * from the PLANNER. Advisory: sets past [[SignalLiveScan.MaxRuntimeIn]]
    * stay unfiltered (an IN of a million literals helps neither the SQL
    * string nor the server; the join above still applies the predicate).
    */
  private var runtimeTokens: Option[Set[Long]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (if (readSchema().fieldNames.contains("token_id")) Seq("token_id") else Seq.empty)
      .map(Expressions.column).toArray

  override def filter(runtime: Array[Filter]): Unit = runtime.foreach {
    case In("token_id", vs) if vs.length <= SignalLiveScan.MaxRuntimeIn =>
      runtimeTokens = Some(vs.collect { case n: Number => n.longValue() }.toSet)
    case EqualTo("token_id", v: Number) => runtimeTokens = Some(Set(v.longValue()))
    case _ => () // unsupported runtime filter: ignore (advisory)
  }

  /** Static pushed filters + the runtime token IN-set (sorted: the SQL
    * text and the envelope cache key must be deterministic).
    */
  private def effectiveFilters: Seq[Filter] =
    filters.toSeq ++ runtimeTokens.map(ts =>
      In("token_id", ts.toArray.sorted.map(v => Long.box(v): Any)): Filter)

  /** One planning round trip per effective-filter state: the token
    * envelope + row count (estimateStatistics and planInputPartitions
    * share it; a runtime filter arriving AFTER statistics invalidates the
    * cache so partitions re-plan against the narrowed envelope).
    */
  private var envCache: Option[(Seq[Filter], Option[(Long, Long, Long)])] = None
  private def envelope: Option[(Long, Long, Long)] = synchronized {
    val eff = effectiveFilters
    envCache match {
      case Some((key, v)) if key == eff => v
      case _ =>
        val client = new ClickHouseHttpClient(url, wire = wire)
        val sql = s"SELECT min(`token_id`), max(`token_id`), count() FROM `$table`" +
          SignalLiveSource.whereClause(eff)
        val v = client.query(sql).headOption.flatMap { r =>
          val n = r(2).toLong
          if (n == 0) None else Some((r(0).toLong, r(1).toLong, n))
        }
        envCache = Some((eff, v))
        v
    }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(envelope.map(_._3 * 64L).getOrElse(0L))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(envelope.map(_._3).getOrElse(0L))
  }

  /** Quantile split points for a balanced m-way token-range plan — the
    * SKEW fix: equal-WIDTH ranges over `[min, max]` collapse when token
    * ids cluster (one sparse outlier id stretches the span a million-fold
    * and every real row lands in one partition — at 100 TB that is one
    * task doing the whole scan while m−1 idle). One
    * `quantiles(1/m … (m−1)/m)(token_id)` statement asks the STORE for
    * equal-ROWCOUNT cut points under the same WHERE the scan pushes;
    * approximate quantiles are fine (any sorted cut set inside
    * `[min, max]` partitions the space exactly — balance is best-effort,
    * coverage is construction). Degrades to Nil — equal-width — on any
    * failure: a server (or grammar-strict stub) without the function
    * costs one failed planning statement, never a wrong plan.
    */
  private def quantilesOf(fractions: Seq[Double], columnExpr: String,
      extraWhere: Seq[String] = Nil): Seq[Long] =
    if (fractions.isEmpty) Seq.empty
    else try {
      // Locale.ROOT: the fraction literals must render with '.' decimal
      // points on EVERY JVM locale — a comma-decimal default (de_DE)
      // would malform the SQL, 400 every probe, and silently disable the
      // skew fix with no signal
      val ps = fractions.map(p =>
        String.format(java.util.Locale.ROOT, "%.6f", Double.box(p))).mkString(",")
      val sql = s"SELECT quantiles($ps)($columnExpr) FROM `$table`" +
        SignalLiveSource.whereClause(effectiveFilters, extraWhere)
      new ClickHouseHttpClient(url, wire = wire).query(sql).headOption
        .map(_(0).stripPrefix("[").stripSuffix("]").split(",").toSeq
          .filter(_.nonEmpty).map(v => math.floor(v.trim.toDouble).toLong))
        .getOrElse(Seq.empty)
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** Raw token-id quantiles (duplicates KEPT — a value repeated r times
    * marks a token owning ≳ (r−1)/m of the matched rows, the single-key
    * skew signal the sub-token cuts act on).
    */
  private def quantileCuts(m: Int): Seq[Long] =
    quantilesOf((1 until m).map(_.toDouble / m), "`token_id`")

  // One planning pass per effective-filter state: Spark calls
  // planInputPartitions more than once per action (partitioning
  // inquiries, then execution), and this pass issues real statements —
  // the quantile probe plus one timestamp probe per hot token. Memoized
  // like the envelope (a DPP runtime filter changes the key and
  // re-plans); the streaming tail constructs a fresh scan per
  // micro-batch, so every batch still plans against current data.
  private var partsCache: Option[(Seq[Filter], Array[InputPartition])] = None
  override def planInputPartitions(): Array[InputPartition] = synchronized {
    val key = effectiveFilters
    partsCache match {
      case Some((k, v)) if k == key => v
      case _ =>
        val v = planPartitions()
        partsCache = Some((key, v))
        v
    }
  }

  private def planPartitions(): Array[InputPartition] = envelope match {
    case None => Array.empty // no matching rows: no tasks, no round trips
    case Some((minTok, maxTok, n)) =>
      // contiguous token ranges: each task's WHERE lands inside the
      // table's (token_id, timestamp) primary key. Bounded by the row
      // count so a tiny result never fans into idle round trips.
      // BigInt arithmetic throughout: token ids are arbitrary Longs, so
      // `maxTok - minTok + 1` and `maxTok + 1` both overflow near the
      // signed extremes (a wrapped bound would emit `token_id <
      // Long.MinValue` and silently exclude every row).
      val span = BigInt(maxTok) - BigInt(minTok) + 1
      val m = Seq(BigInt(partitions), span, BigInt(n / 1000 + 1)).min.max(BigInt(1)).toInt
      val per = (span + m - 1) / m
      val schema = readSchema()
      // balanced bounds when the store answers quantiles; equal-width
      // otherwise. Coverage is identical either way: consecutive sorted
      // cuts from min, last range capped at max+1 — disjoint, gap-free.
      val rawQs = quantileCuts(m)
      val cuts: Seq[(BigInt, BigInt)] = {
        val qs = rawQs.filter(c => c > minTok && c <= maxTok).distinct
        val los = (BigInt(minTok) +: qs.map(BigInt(_))).distinct.sorted
        if (los.length > 1)
          los.zip(los.drop(1) :+ (BigInt(maxTok) + 1)).filter { case (a, b) => a < b }
        else Seq.empty
      }
      val bounds: Seq[(BigInt, BigInt)] =
        if (cuts.nonEmpty) cuts
        else (0 until m).map { i =>
          (BigInt(minTok) + i * per, (BigInt(minTok) + (i + 1) * per).min(BigInt(maxTok) + 1))
        }
      // SUB-TOKEN timestamp cuts — the skew one level below q233's fix:
      // token-granular quantile cuts collapse onto a HOT token (a raw
      // quantile value repeated r ≥ 2 times ⇒ that token straddles at
      // least one full inter-quantile gap — it owns ≳ r−1 partition
      // targets' worth of rows, e.g. a 60%-of-rows token at m=4 repeats
      // twice; requiring 3 would let it keep a 60% partition), and no
      // token boundary can split it — the hot token's whole history
      // lands in one task. One more quantiles statement per hot token
      // asks the store for ITS timestamp cut points (same primary key:
      // the table orders by (token_id, timestamp), so each sub-range is
      // still an index-local read) and the token becomes
      // `token_id = hot AND ts ∈ [a, b)` partitions — r+1 of them, ≈ its
      // share in targets. A merely-warm token that sneaks past the
      // trigger costs a few extra index-local statements, never a wrong
      // plan. Same degrade posture as the token probe: a failed
      // statement leaves the token whole — coarser, never wrong.
      val hotTokens: Map[Long, Int] = rawQs.groupBy(identity)
        .collect { case (v, g) if g.size >= 2 => (v, g.size) }
      def tsRanges(v: Long, mult: Int): Seq[Seq[String]] = {
        val sub = mult + 1 // ≈ the token's share in per-partition targets
        val tsCuts = quantilesOf((1 until sub).map(_.toDouble / sub),
          "toUnixTimestamp64Micro(`timestamp`)", Seq(s"`token_id` = $v"))
          .distinct.sorted
        val eq = s"`token_id` = $v"
        if (tsCuts.isEmpty) Seq(Seq(eq)) // probe failed/degenerate: whole token
        else (None +: tsCuts.map(Option(_))).zip(tsCuts.map(Option(_)) :+ None)
          .map { case (a, b) =>
            // first sub-range unbounded below, last unbounded above —
            // gap-free over the token's whole history by construction
            Seq(eq) ++
              a.map(x => s"`timestamp` >= fromUnixTimestamp64Micro($x)") ++
              b.map(x => s"`timestamp` < fromUnixTimestamp64Micro($x)")
          }
      }
      def conj(lo: BigInt, hi: BigInt): Seq[String] =
        // an upper bound past Long.MaxValue is unrepresentable and
        // unneeded: emit only the lower bound there
        Seq(s"`token_id` >= ${lo.toLong}") ++
          (if (hi <= BigInt(Long.MaxValue)) Seq(s"`token_id` < ${hi.toLong}") else Nil)
      val ranges: Seq[Seq[String]] = bounds.flatMap { case (loBig, hiBig) =>
        val hotsIn = hotTokens.keysIterator
          .filter(v => BigInt(v) >= loBig && BigInt(v) < hiBig).toSeq.sorted
        if (hotsIn.isEmpty) Seq(conj(loBig, hiBig))
        else {
          // carve each hot token out of its range: [lo, v) ++ the
          // token's timestamp sub-ranges ++ [v+1, hi) — disjoint and
          // gap-free, so coverage is unchanged
          var lo = loBig
          val out = Seq.newBuilder[Seq[String]]
          hotsIn.foreach { v =>
            if (BigInt(v) > lo) out += conj(lo, BigInt(v))
            out ++= tsRanges(v, hotTokens(v))
            lo = BigInt(v) + 1
          }
          if (lo < hiBig) out += conj(lo, hiBig)
          out.result()
        }
      }
      ranges.map { range =>
        val sql = pushedAgg match {
          case Some(pa) =>
            s"SELECT ${pa.selectList} FROM `$table`" +
              SignalLiveSource.whereClause(effectiveFilters, range) + pa.groupBy
          case None =>
            val cols = required.fields.map(f => SignalLiveSource.selectExpr(f.name))
              .mkString(", ")
            // a zero-column scan (e.g. count(*) without pushed agg) still
            // needs one expression per row
            val sel = if (cols.isEmpty) "1" else cols
            // topN compiles to the reference's own statement shape:
            // ORDER BY `timestamp` [DESC] LIMIT k (QueryOldestSignal is
            // exactly the ASC k=1 instance)
            val orderLimit =
              if (topN >= 0)
                s" ORDER BY `timestamp`${if (topNDesc) " DESC" else " ASC"} LIMIT $topN"
              else if (limit >= 0) s" LIMIT $limit"
              else ""
            s"SELECT $sel FROM `$table`" +
              SignalLiveSource.whereClause(effectiveFilters, range) + orderLimit
        }
        SignalLivePartition(url, table, sql, schema): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SignalLiveReaderFactory(wire)

  /** Continuous tail of the signal table:
    * `readStream.format("graft-signal-live")` — the CH-side twin of the
    * ES streaming tail ([[StatusLiveMicroBatchStream]]), completing the
    * symmetry: every live source here is a streaming table too. Offsets
    * are the SERVER's own newest `timestamp` (`count(), max(timestamp)`
    * in one aggregate statement — no client clock, deterministic against
    * any corpus); each micro-batch reads a half-open event-time window
    * [last, serverMax + 1µs) through the SAME token-range planning and
    * streamed row readers as the batch scan (pushed filters and pruning
    * apply; a fresh planning envelope per batch means an empty window
    * plans zero tasks). Offsets are MONOTONIC (high-water mark fed by
    * latestOffset/commit/deserializeOffset), so a max-time regression
    * (TTL expiry, partition drop) never re-reads the gap. Late rows below
    * a committed offset are the batch path's job — the same
    * tail-vs-backfill pairing as the ES side.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pushedAgg.isEmpty && topN < 0 && limit < 0,
      "graft-signal-live streaming read serves raw rows " +
        "(filters/columns push; agg/topN/limit are the engine's operators above)")
    new SignalLiveMicroBatchStream(url, table, partitions, filters, required, wire)
  }
}

/** Event-time offset of the CH live tail: everything STRICTLY BELOW
  * `stopUs` (exclusive, epoch micros) is committed.
  */
case class SignalLiveOffset(stopUs: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = "{\"stopUs\":" + stopUs + "}"
}

object SignalLiveOffset {
  private val Re = "\\{\"stopUs\":(-?\\d+)\\}".r
  def fromJson(json: String): SignalLiveOffset = json.trim match {
    case Re(v) => SignalLiveOffset(v.toLong)
    case other => throw new IllegalArgumentException(s"bad SignalLiveOffset: $other")
  }
}

class SignalLiveMicroBatchStream(url: String, table: String, partitions: Int,
    filters: Array[Filter], required: StructType,
    wire: LiveWire = LiveWire.default)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  // the stream's floor/cap come from any pushed timestamp bounds (a
  // bounded tail drains its window and idles)
  private val floorUs: Long =
    filters.collect { case GreaterThanOrEqual("timestamp", v) => SignalLiveSource.usOf(v) }
      .reduceOption(_ max _).getOrElse(0L)
  private val capUs: Long =
    filters.collect { case LessThan("timestamp", v) => SignalLiveSource.usOf(v) }
      .reduceOption(_ min _).getOrElse(Long.MaxValue)

  // monotonic high-water mark: returned, committed, or checkpoint-restored
  private var highWaterUs: Long = Long.MinValue

  override def initialOffset(): Offset = SignalLiveOffset(floorUs)

  /** One aggregate round trip: `count(), max(timestamp)` under the pushed
    * filters — count distinguishes "empty" from "rows at epoch 0" (CH
    * aggregates over an empty set return defaults, not NULL markers, for
    * non-nullable columns; the stub mirrors that).
    */
  override def latestOffset(): Offset = {
    val client = new ClickHouseHttpClient(url, wire = wire)
    val sql = "SELECT count(), toUnixTimestamp64Micro(max(`timestamp`)) " +
      s"FROM `$table`" + SignalLiveSource.whereClause(filters.toSeq)
    val next = client.query(sql).headOption.collect {
      case r if r(0).toLong > 0L => math.min(r(1).toLong + 1, capUs)
    }.getOrElse(floorUs)
    highWaterUs = math.max(highWaterUs, math.max(floorUs, next))
    SignalLiveOffset(highWaterUs)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[SignalLiveOffset].stopUs
    val b = end.asInstanceOf[SignalLiveOffset].stopUs
    if (b <= a) return Array.empty
    // the batch scan's own token-range planning over the window — fresh
    // envelope per batch (an empty window plans zero tasks), same
    // streamed row readers
    val window: Array[Filter] = Array(
      GreaterThanOrEqual("timestamp", SignalLiveSource.tsOfUs(a)),
      LessThan("timestamp", SignalLiveSource.tsOfUs(b)))
    new SignalLiveScan(url, table, partitions, filters ++ window, required,
      limit = -1, pushedAgg = None, wire = wire).planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SignalLiveReaderFactory(wire)
  override def deserializeOffset(json: String): Offset = {
    val off = SignalLiveOffset.fromJson(json)
    highWaterUs = math.max(highWaterUs, off.stopUs) // restored state floors the stream
    off
  }
  override def commit(end: Offset): Unit =
    highWaterUs = math.max(highWaterUs, end.asInstanceOf[SignalLiveOffset].stopUs)
  override def stop(): Unit = ()
}

object SignalLiveScan {
  /** Largest runtime IN-set folded into the CH SQL — beyond it the filter
    * is ignored (advisory): a million-literal IN helps neither the SQL
    * string nor the server's index, and the join above still applies the
    * predicate.
    */
  val MaxRuntimeIn: Int = 1000
}

class SignalLiveReaderFactory(wire: LiveWire = LiveWire.default)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SignalLivePartition]
    new PartitionReader[InternalRow] {
      // rows stream off the socket as consumed (BodyHandlers.ofLines) —
      // a token range's result NEVER materializes in executor memory,
      // whatever its size (the reference's rows.Next() posture,
      // clickhouse.go:79-84 [ext])
      private lazy val rows: Iterator[Array[String]] with AutoCloseable =
        new ClickHouseHttpClient(p.url, wire = wire).queryStream(p.sql)
      private var opened = false
      private var current: InternalRow = _
      override def next(): Boolean = {
        opened = true
        if (!rows.hasNext) return false
        val r = rows.next()
        current = InternalRow.fromSeq(p.schema.fields.toIndexedSeq.zipWithIndex.map {
          case (f, i) =>
            val raw = r(i)
            if (raw == "\\N") null
            else f.dataType match {
              case LongType      => Long.box(raw.toLong)
              case DoubleType    => Double.box(raw.toDouble)
              case TimestampType => Long.box(raw.toLong) // epoch micros on the wire
              case StringType    => UTF8String.fromString(SignalLiveSource.unescapeTsv(raw))
              case other => throw new IllegalArgumentException(s"unsupported type: $other")
            }
        })
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = if (opened) rows.close() // abandoned mid-stream: release the connection
    }
  }
}
