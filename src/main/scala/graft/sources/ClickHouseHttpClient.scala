package graft.sources

import java.net.URI
import java.net.http.{HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import org.apache.spark.sql.DataFrame

/** The server answered with a non-200 status — a SEMANTIC failure (bad
  * SQL, missing table, rejected insert), distinct by TYPE from transport
  * IOExceptions so retry guards never have to sniff `getMessage` (which
  * can legitimately be null on socket resets — an NPE there would replace
  * the original error AND defeat the retry).
  */
private[graft] final class ChHttpStatusException(val statusCode: Int, body: String,
    val retryAfterMs: Long = 0L)
    extends java.io.IOException(s"ClickHouse HTTP $statusCode: $body")

/** LIVE ClickHouse client over CH's public HTTP interface — the wire half
  * of the write seam whose statement/DDL halves already exist
  * ([[ClickHouseDdl]], [[SignalSink.appendJdbc]]). The reference's client
  * speaks the native TCP protocol via clickhouse-go (clickhouse.go:36-53
  * [ext]); the HTTP interface is ClickHouse's other first-class protocol
  * for exactly these operations, and it needs nothing beyond the JDK:
  *
  *   - `insertCsv`: `POST /?query=INSERT INTO t (cols) FORMAT CSV` with
  *     the rows as the body — the reference's batched
  *     `InsertIntoClickhouse` (clickhouse.go:113-130 [ext]);
  *   - `query`: `POST /` with the SQL (+ ` FORMAT TabSeparated`), rows
  *     parsed from TSV — `QueryOldestSignal` / `QueryTokenIDs`
  *     (clickhouse.go:65-110 [ext]), whose exact statements
  *     [[oldestSignalSql]] / [[tokenIdsSql]] reproduce from the
  *     reference's sqlboiler builders;
  *   - `queryStream`: the same statement shape but the response consumed
  *     INCREMENTALLY (`BodyHandlers.ofLines`) — the reference streams
  *     result rows (`rows.Next()`, clickhouse.go:79-84 [ext]) and so must
  *     a partition reader: an unbounded row SELECT per token range must
  *     never buffer its whole result in executor memory.
  *
  * [[insertSignals]] is the DISTRIBUTED form: each Spark partition posts
  * its own CSV batch from the executor — at 100 TB the insert fan-out is
  * the cluster's, with ClickHouse's per-insert part creation (one part per
  * batch, merged by the server) as the commit unit. Spec-tested against a
  * loopback stub server; the zero-egress environment never opens a remote
  * socket. HTTPS endpoints get the TLS ≥ 1.2 floor via [[LiveHttp]] —
  * the reference's own connection posture (clickhouse.go:41-47 [ext]).
  */
private[graft] final class ClickHouseHttpClient(baseUrl: String, timeoutMs: Long = 30000,
    wire: LiveWire = LiveWire.default) {

  @transient private lazy val http = LiveHttp.newClient(timeoutMs, wire)

  private def request(queryParam: Option[String], body: Array[Byte],
      extraParams: String = "", bodyGzipped: Boolean = false): HttpRequest = {
    // response compression is opt-in per CH's contract: the server gzips
    // only under enable_http_compression=1 AND Accept-Encoding — sniffed
    // transparently on the way back (LiveHttp.bodyString/lineStream)
    val compressParam = if (wire.gzip) "&enable_http_compression=1" else ""
    val uri = queryParam match {
      case Some(q) =>
        s"$baseUrl/?query=${java.net.URLEncoder.encode(q, "UTF-8")}$extraParams$compressParam"
      case None if wire.gzip => s"$baseUrl/?enable_http_compression=1"
      case None => s"$baseUrl/"
    }
    val b = HttpRequest.newBuilder(URI.create(uri))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Accept-Encoding", "gzip")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    if (bodyGzipped) b.header("Content-Encoding", "gzip")
    // the reference's Auth{Username, Password} (clickhouse.go:40-43 [ext])
    // over the HTTP interface's standard basic-auth form
    wire.basicAuth.foreach(b.header("Authorization", _))
    b.build()
  }

  /** `Retry-After` seconds from a throttling response, clamped to 15 s
    * (the ES client's clamp, [[EsHttpClient.sendWithRetry]]) — CH's HTTP
    * interface (or a proxy in front of it) can name a delay under 429,
    * and honoring the server's own number beats blind exponential
    * backoff on a genuinely overloaded cluster. Malformed ⇒ 0.
    */
  private def retryAfterMsOf[T](res: HttpResponse[T]): Long =
    res.headers().firstValue("Retry-After").map[Long] { v =>
      try math.min(v.trim.toLong * 1000L, 15000L) catch { case _: NumberFormatException => 0L }
    }.orElse(0L)

  private def post(queryParam: Option[String], body: Array[Byte],
      retryTransport: Boolean = false, extraParams: String = "",
      bodyGzipped: Boolean = false): String = {
    val req = request(queryParam, body, extraParams, bodyGzipped)
    // transport retry for IDEMPOTENT statements only (SELECTs and tokened
    // inserts): a dropped connection around an untokened INSERT must
    // surface — blind re-send would duplicate rows (CH INSERTs are visible
    // on acceptance), and DDL can legitimately fail the second time.
    // Status failures are a distinct TYPE (never message-sniffed): they
    // pass through untouched.
    var attempt = 0
    while (true) {
      try {
        val res = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
        if (res.statusCode() != 200)
          throw new ChHttpStatusException(res.statusCode(), LiveHttp.bodyString(res),
            retryAfterMsOf(res))
        return LiveHttp.bodyString(res)
      } catch {
        // a TRANSIENT overload status (429 rate limit, 502-504 proxy /
        // too-many-queries) retries like a dropped connection — but only
        // on the idempotent statements transport retry already covers
        // (SELECTs, tokened inserts); DDL and untokened inserts surface
        // immediately. A server-named `Retry-After` floors the delay
        // (clamped to 15 s), same contract as the ES client.
        case e: ChHttpStatusException
            if retryTransport && attempt < 4 && (e.statusCode == 429 ||
              (e.statusCode >= 502 && e.statusCode <= 504)) =>
          attempt += 1
          Thread.sleep(math.max(e.retryAfterMs, 25L << attempt).min(15000L))
        case e: ChHttpStatusException => throw e
        case _: java.io.IOException if retryTransport && attempt < 4 =>
          attempt += 1
          Thread.sleep(25L << attempt)
      }
    }
    null // unreachable
  }

  /** Run a statement with no result (DDL, etc.). */
  def execute(sql: String): Unit = { post(None, sql.getBytes(StandardCharsets.UTF_8)); () }

  /** One CSV insert batch — the reference's PrepareBatch/Append/Send unit.
    *
    * @param dedupToken ClickHouse `insert_deduplication_token`: a
    *        DETERMINISTIC token makes the server drop an identical
    *        re-sent block (Replicated*MergeTree always; plain MergeTree
    *        with `non_replicated_deduplication_window`), which is what
    *        turns a retried Spark task's re-insert into exactly-once.
    *        None = the reference client's behavior (no token).
    */
  def insertCsv(table: String, columns: Seq[String], csvBody: Array[Byte],
      dedupToken: Option[String] = None): Unit = {
    val cols = columns.map(c => s"`$c`").mkString(", ")
    val tok = dedupToken.map(t =>
      s"&insert_deduplication_token=${java.net.URLEncoder.encode(t, "UTF-8")}").getOrElse("")
    // under compression=gzip the CSV body ships gzipped (Content-Encoding:
    // gzip — CH's HTTP interface inflates natively): the insert fan-out's
    // wire bytes shrink 5-10×, and the dedup token still hashes the
    // UNCOMPRESSED bytes (the content's identity, not its encoding)
    val body = if (wire.gzip) LiveHttp.gzipBytes(csvBody) else csvBody
    // a TOKENED insert is idempotent (the server dedups the re-sent
    // block), so transport errors may retry; an untokened one must not
    post(Some(s"INSERT INTO `$table` ($cols) FORMAT CSV"), body,
      retryTransport = dedupToken.isDefined, extraParams = tok,
      bodyGzipped = wire.gzip)
    ()
  }

  /** Run a query, rows as TSV fields, result fully materialized
    * (idempotent ⇒ transport-retried). For the SMALL literal statements —
    * planning envelopes, DISTINCT token ids, oldest-signal probes; a row
    * scan of unknown size belongs on [[queryStream]].
    */
  def query(sql: String): Seq[Array[String]] =
    post(None, s"$sql FORMAT TabSeparated".getBytes(StandardCharsets.UTF_8),
      retryTransport = true)
      .split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t", -1))

  /** Run a query, rows consumed INCREMENTALLY off the socket
    * (`BodyHandlers.ofLines`): the response never materializes in client
    * memory — the reference's `rows.Next()` loop (clickhouse.go:79-84
    * [ext]) over HTTP. Transport retry applies only UP TO the response
    * header (idempotent re-send); a failure MID-STREAM propagates — rows
    * were already handed out, so the caller's task-level retry (Spark's)
    * is the correct recovery, not a silent client-side re-read.
    *
    * The returned iterator is also `AutoCloseable`: close it to release
    * the connection if abandoned before exhaustion.
    */
  def queryStream(sql: String): Iterator[Array[String]] with AutoCloseable = {
    val req = request(None, s"$sql FORMAT TabSeparated".getBytes(StandardCharsets.UTF_8))
    var reader: java.io.BufferedReader = null
    var attempt = 0
    while (reader == null) {
      try {
        val r = http.send(req, HttpResponse.BodyHandlers.ofInputStream())
        if (r.statusCode() != 200) {
          // error bodies are small: drain them for the message (decoding
          // a gzipped error like any other body)
          val body = try {
            val bytes = r.body().readAllBytes()
            new String(if (LiveHttp.isGzipResponse(r)) LiveHttp.gunzip(bytes) else bytes,
              StandardCharsets.UTF_8).trim
          } finally r.body().close()
          throw new ChHttpStatusException(r.statusCode(), body, retryAfterMsOf(r))
        }
        // gunzip INCREMENTALLY when the server compressed (inflate as
        // bytes arrive — a compressed response stream stays a stream)
        reader = LiveHttp.lineStream(r)
      } catch {
        // transient overload statuses retry here too — no row has flowed
        // yet (the stream hasn't opened), so an idempotent re-send is
        // safe; `Retry-After` floors the delay like the buffered path
        case e: ChHttpStatusException
            if attempt < 4 && (e.statusCode == 429 ||
              (e.statusCode >= 502 && e.statusCode <= 504)) =>
          attempt += 1
          Thread.sleep(math.max(e.retryAfterMs, 25L << attempt).min(15000L))
        case e: ChHttpStatusException => throw e
        case _: java.io.IOException if attempt < 4 =>
          attempt += 1
          Thread.sleep(25L << attempt)
      }
    }
    val in = reader
    new scala.collection.AbstractIterator[Array[String]] with AutoCloseable {
      // LAZY advance: a row is handed out as soon as IT arrives — never
      // held hostage to the next row's bytes (prefetching in next() would
      // block each row on its successor). BufferedReader.readLine returns
      // as soon as the line's own bytes are in.
      private var nextLine: String = null
      private var finished = false
      private def advance(): Unit =
        while (nextLine == null && !finished) {
          val l = in.readLine()
          if (l == null) {
            finished = true
            in.close() // exhausted: release the connection eagerly
          } else if (l.nonEmpty) nextLine = l
        }
      override def hasNext: Boolean = { advance(); nextLine != null }
      override def next(): Array[String] = {
        advance()
        if (nextLine == null) throw new NoSuchElementException("queryStream exhausted")
        val l = nextLine
        nextLine = null
        l.split("\t", -1)
      }
      override def close(): Unit = in.close()
    }
  }

  /** Distributed batch insert: every partition posts its own CSV body.
    * CSV quoting: strings quote-doubled, null = empty unquoted field
    * (ClickHouse CSV NULL for Nullable columns). Timestamps ship as
    * EPOCH-SECONDS decimals with a 6-digit (microsecond) fraction — a
    * zone-independent encoding ClickHouse parses into DateTime64(p)
    * regardless of executor or server timezone (a local-time string would
    * silently shift whenever the two differ). Everything else ships
    * verbatim in column order.
    *
    * Every batch carries a content-hashed `insert_deduplication_token`
    * (`graft-<runTag>-p<partition>-b<ordinal>-<sha256/12 of the CSV
    * bytes>` — the SAME scheme as the DSv2 writer,
    * [[SignalLiveWriterFactory]]): a retried Spark task whose upstream
    * re-produces the same rows re-sends byte-identical batches under
    * identical tokens and the server drops them (exactly-once on a
    * Replicated*MergeTree / windowed MergeTree); a nondeterministic
    * upstream hashes differently and every block lands (at-least-once,
    * never the silent loss a position-only token causes). The reference
    * client sends no tokens at all and duplicates on every retry
    * (clickhouse.go:113-130 [ext]).
    *
    * @param runTag token namespace for THIS call — defaults to a fresh
    *        random tag generated ONCE on the driver (task retries reuse
    *        it via the closure; two different calls inserting identical
    *        content never dedup each other). Pass an explicit tag to make
    *        a whole re-RUN idempotent too.
    */
  def insertSignals(df: DataFrame, table: String, runTag: Option[String] = None): Unit = {
    val columns = df.schema.fieldNames.toSeq
    val url = baseUrl; val tmo = timeoutMs; val w = wire
    val tag = runTag.getOrElse(java.util.UUID.randomUUID().toString.substring(0, 13))
    df.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      if (it.hasNext) {
        val sb = new java.lang.StringBuilder(1 << 16)
        val client = new ClickHouseHttpClient(url, tmo, w)
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var batchOrdinal = 0
        var n = 0
        def flush(): Unit = if (sb.length() > 0) {
          val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
          val digest = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
          val hash = digest.take(12).map(b => f"$b%02x").mkString
          client.insertCsv(table, columns, bytes,
            dedupToken = Some(s"graft-$tag-p$pid-b$batchOrdinal-$hash"))
          batchOrdinal += 1
          sb.setLength(0); n = 0
        }
        it.foreach { row =>
          var i = 0
          while (i < columns.length) {
            if (i > 0) sb.append(',')
            if (!row.isNullAt(i)) row.get(i) match {
              case s: String => sb.append('"').append(s.replace("\"", "\"\"")).append('"')
              case t: java.sql.Timestamp =>
                // epoch seconds + micro fraction (getEpochSecond floors, so
                // the always-positive nanos compose correctly pre-1970 too)
                val inst = t.toInstant
                sb.append(inst.getEpochSecond).append('.')
                  .append(f"${inst.getNano / 1000}%06d")
              case other => sb.append(other.toString)
            }
            i += 1
          }
          sb.append('\n')
          n += 1
          if (n >= 65536) flush() // ClickHouse-sized insert batches
        }
        flush()
      }
    }
  }
}

private[graft] object ClickHouseHttpClient {
  /** Deterministic token namespace for a JOB-identity insert: derive it
    * from what identifies the logical run — the sink table plus a window
    * or run descriptor — and a re-SUBMITTED identical job re-derives the
    * same namespace, so its byte-identical batches dedup server-side
    * end-to-end (the default random per-call tag only scopes dedup to
    * task retries WITHIN one run). Keep the random default for ad-hoc
    * calls: two genuinely different loads of identical content must both
    * land. The reference client has no tokens at all and duplicates on
    * every retry (clickhouse.go:113-130 [ext]).
    */
  def jobRunTag(table: String, runIdentity: String): String =
    s"job-$table-${java.lang.Integer.toHexString(runIdentity.hashCode)}"

  /** A string's body as a ClickHouse single-quoted literal: `\` escapes
    * `\` and `'`. Every statement builder quotes names with it.
    */
  def escapeStr(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  /** The reference's `QueryOldestSignal` statement (clickhouse.go:65-87
    * [ext]): sqlboiler with the backtick dialect, placeholders inlined.
    */
  def oldestSignalSql(tokenId: Long, signalNames: Seq[String],
      table: String = "signal"): String = {
    val in =
      if (signalNames.isEmpty) ""
      else signalNames.map(n => s"'${escapeStr(n)}'")
        .mkString(" AND `name` IN (", ",", ")")
    s"SELECT `timestamp` FROM `$table` WHERE `token_id` = $tokenId$in " +
      "ORDER BY `timestamp` ASC LIMIT 1"
  }

  /** The reference's `QueryTokenIDs` statement (clickhouse.go:90-95 [ext]). */
  def tokenIdsSql(table: String = "signal"): String =
    s"SELECT DISTINCT `token_id` FROM `$table`"
}
