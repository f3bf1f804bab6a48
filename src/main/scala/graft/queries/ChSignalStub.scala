package graft.queries

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.regex.Pattern

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import LiveQueries.{acceptsGzip, respond}

/** Loopback ClickHouse double behind CH's HTTP interface, the one every
  * live gate row, spec and probe writes to and reads from. Like a real
  * ClickHouse, each table takes its columns from the `CREATE TABLE` it is
  * sent — the reference's 5-column `signal` table
  * ([[graft.sources.SignalLiveSource.Schema]]) and q214's 4-column
  * `value_cents` table are just two DDLs — and an INSERT's CSV fields
  * (epoch-decimal timestamps) are read by the INSERT's column list. The
  * double evaluates exactly the SQL grammar the live clients emit: the
  * planning envelope (`min/max(token_id), count()`), row SELECTs
  * (`DISTINCT` too) with translated WHERE atoms, ORDER BY and LIMIT, and
  * aggregate SELECTs with GROUP BY. Anything outside the grammar is a 400:
  * if a client ever emits SQL it does not declare, the gate fails loudly
  * instead of silently matching.
  */
object ChSignalStub {

  /** How a column's values are held: integers and DateTime64 epoch micros
    * as Long, floats as Double, strings as String; null when absent.
    */
  private object Kind extends Enumeration { val Whole, Time, Real, Text = Value }

  private type Row = Array[Any]

  private def kindOf(chType: String): Option[Kind.Value] =
    if (chType.contains("DateTime64")) Some(Kind.Time)
    else if (chType.contains("Float")) Some(Kind.Real)
    else if (chType.contains("Int")) Some(Kind.Whole)
    else if (chType.contains("String")) Some(Kind.Text)
    else None

  /** One table: its columns in DDL order, its rows and its insert-block
    * dedup tokens (a real CH's `insert_deduplication_token`: a re-sent
    * tokened block is acknowledged but not re-stored).
    */
  private final class Table(columns: Seq[(String, Kind.Value)]) {
    val width: Int = columns.size
    private val byName = columns.zipWithIndex.map { case ((c, k), i) => c -> (i, k) }.toMap
    def col(c: String): Option[(Int, Kind.Value)] = byName.get(c)

    val seenTokens: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    private var rows = Vector.empty[Row]
    // the rows with a per-token index, rebuilt after inserts: a real CH's
    // primary key (ORDER BY token_id) answers a `token_id = N` probe from
    // the index, not a full scan — the reference's per-token oldest-signal
    // loop (clickhouse.go:65-87) issues exactly that shape once per token,
    // and a double that rescans the table per probe turns an O(fleet) loop
    // into O(fleet × table) (r18; same test-double floor as the ES
    // double's cursor resume)
    @volatile private var indexed: Option[(Vector[Row], Map[Any, Vector[Row]])] = None

    def add(batch: Seq[Row]): Unit = synchronized { rows ++= batch; indexed = None }

    private def index(): (Vector[Row], Map[Any, Vector[Row]]) =
      indexed.getOrElse(synchronized(indexed.getOrElse {
        val byToken = col("token_id").fold(Map.empty[Any, Vector[Row]])(c => rows.groupBy(_(c._1)))
        val i = (rows, byToken)
        indexed = Some(i); i
      }))

    def all(): IndexedSeq[Row] = index()._1
    def tokenSlice(t: Long): IndexedSeq[Row] = index()._2.getOrElse(t, Vector.empty)
  }

  private val Create = Pattern.compile(
    "CREATE TABLE (?:IF NOT EXISTS )?`(\\w+)` \\((.*)\\) ENGINE.*", Pattern.DOTALL)
  private val ColumnDef = """`(\w+)` (\w+(?:\([^)]*\))?)""".r
  private val Insert = """INSERT INTO `(\w+)` \(([^)]*)\) FORMAT CSV""".r
  private val Name = """`(\w+)`""".r
  private val Select = Pattern.compile(
    "SELECT (DISTINCT )?(.+) FROM `(\\w+)`(?: WHERE (.+?))?(?: GROUP BY (.+?))?" +
      "(?: ORDER BY `(\\w+)`( DESC| ASC)?)?(?: LIMIT (\\d+))? " +
      "FORMAT TabSeparated\\s*", Pattern.DOTALL)

  private val CsvField = Pattern.compile("\"((?:[^\"]|\"\")*)\"|([^,\"]*)")

  /** One CSV line as a row of `width` values, its fields read in order
    * into the (position, kind) columns `cols`: a quoted field unquoted
    * (`""` is a quote), a bare one as it is, a bare empty one null. None
    * when malformed.
    */
  private def csvRow(line: String, cols: Seq[(Int, Kind.Value)], width: Int): Option[Row] = {
    val (m, row) = (CsvField.matcher(line), new Array[Any](width))
    var at = 0
    scala.util.Try(cols.foreach { case (i, k) =>
      require(at <= line.length && m.region(at, line.length).lookingAt())
      val f = if (m.group(1) != null) m.group(1).replace("\"\"", "\"")
        else if (m.group(2).isEmpty) null else m.group(2)
      row(i) = if (f == null) null else k match {
        case Kind.Whole => f.toLong
        case Kind.Real => f.toDouble
        case Kind.Time => (BigDecimal(f) * 1000000).toLongExact
        case Kind.Text => f
      }
      require(m.end() == line.length || line.charAt(m.end()) == ',')
      at = m.end() + 1
    }).toOption.filter(_ => at == line.length + 1).map(_ => row)
  }

  /** A column value as TabSeparated renders it. A DateTime64 reads back as
    * the epoch decimal it was inserted as.
    */
  private def render(k: Kind.Value, v: Any): String =
    if (v == null) "\\N"
    else k match {
      case Kind.Text =>
        v.asInstanceOf[String].replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
      case Kind.Time => java.math.BigDecimal.valueOf(v.asInstanceOf[Long], 6).toPlainString
      case _ => v.toString
    }

  /** A WHERE clause split at each ` AND ` outside a string literal. */
  private def atoms(where: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var (start, i, quoted) = (0, 0, false)
    while (i < where.length) {
      val c = where.charAt(i)
      if (quoted && c == '\\') i += 1
      else if (c == '\'') quoted = !quoted
      else if (!quoted && where.startsWith(" AND ", i)) {
        parts += where.substring(start, i); start = i + 5; i += 4
      }
      i += 1
    }
    (parts += where.substring(start)).result()
  }

  // A literal: a whole number, or the one string form the clients emit
  // ([[graft.sources.ClickHouseHttpClient.escapeStr]]): single-quoted,
  // `\` escaping `\` and `'`.
  private val Lit = """'(?:[^'\\]|\\.)*'|-?\d+"""
  private val Literal = Lit.r
  private def unesc(s: String): String =
    """\\(.)""".r.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(m.group(1)))

  private val Cmp = """`(\w+)` (=|>=|<) (?:fromUnixTimestamp64Micro\((-?\d+)\)|(-?\d+))""".r
  private val OneOf = s"""`(\\w+)` (?:= ($Lit)|IN \\(((?:$Lit)(?:,(?:$Lit))*)\\))""".r
  private val NotNull = """`(\w+)` IS NOT NULL""".r

  /** One WHERE atom as a row predicate; None = outside the grammar. */
  private def atom(a: String, t: Table): Option[Row => Boolean] = {
    def colOf(c: String, kind: Kind.Value): Option[Int] =
      t.col(c).collect { case (i, `kind`) => i }
    a match {
      case Cmp(c, op, micros, whole) =>
        colOf(c, if (micros != null) Kind.Time else Kind.Whole).map { i =>
          val n = Option(micros).getOrElse(whole).toLong
          val test: Long => Boolean =
            op match { case "=" => _ == n; case ">=" => _ >= n; case _ => _ < n }
          (r: Row) => r(i) != null && test(r(i).asInstanceOf[Long])
        }
      case OneOf(c, one, list) =>
        val lits = Literal.findAllMatchIn(Option(one).getOrElse(list)).map(_.matched).toSeq
        colOf(c, if (lits.head.startsWith("'")) Kind.Text else Kind.Whole).map { i =>
          val set: Set[Any] = lits.map(l => if (l.startsWith("'")) unesc(l.drop(1).dropRight(1))
            else l.toLong).toSet
          (r: Row) => set(r(i))
        }
      case NotNull(c) => t.col(c).map { case (i, _) => (r: Row) => r(i) != null }
      case _ => None
    }
  }

  /** How one kind's values order. */
  private def order(k: Kind.Value): Ordering[Any] = (k match {
    case Kind.Real => Ordering.Double.TotalOrdering
    case Kind.Text => Ordering.String
    case _ => Ordering.Long
  }).asInstanceOf[Ordering[Any]]

  private val Micros = """toUnixTimestamp64Micro\((.+)\)""".r
  private val Agg = """(count|min|max|sum)\(`(\w+)`\)""".r
  private val Quantiles = """quantiles\(([0-9.,]+)\)\((.+)\)""".r

  /** A per-row SELECT item; None = outside the grammar. */
  private def rowItem(it: String, t: Table): Option[Row => String] = it match {
    case "1" => Some(_ => "1")
    case Name(c) => t.col(c).map { case (i, k) => (r: Row) => render(k, r(i)) }
    case Micros(Name(c)) => t.col(c).collect { case (i, Kind.Time) => (r: Row) => r(i).toString }
    case _ => None
  }

  /** An aggregate SELECT item over a group's rows; None = outside the
    * grammar.
    */
  private def aggItem(it: String, t: Table, quantiles: Boolean): Option[Seq[Row] => String] =
    it match {
      case "count()" => Some(_.size.toString)
      case Agg(f, c) => agg(f, c, t, micros = false)
      case Micros(Agg(f @ ("min" | "max"), c)) => agg(f, c, t, micros = true)
      case Quantiles(ps, e) if quantiles =>
        // the balanced-planning probes: CH's quantiles(...)(col) renders a
        // TabSeparated array like [3,7.5,12]; an empty set renders nans
        // (the client's parse failure then degrades it to equal-width).
        // Two column forms — token ids (the range plan) and epoch-micro
        // timestamps (the sub-token cuts a hot token is split by).
        val col = e match {
          case Name(c) => t.col(c).filter(_._2 == Kind.Whole)
          case Micros(Name(c)) => t.col(c).filter(_._2 == Kind.Time)
          case _ => None
        }
        col.map { case (i, _) => rs =>
          val xs = rs.map(_(i).asInstanceOf[Long]).sorted
          ps.split(',').map(_.toDouble).map { p =>
            if (xs.isEmpty) "nan"
            else xs(math.min(xs.size - 1, math.round(p * (xs.size - 1)).toInt)).toString
          }.mkString("[", ",", "]")
        }
      case _ => None
    }

  /** `f` of column `c` over a group's rows (with `micros`, a DateTime64's
    * min or max as epoch micros). Over no value an integer or DateTime64
    * column aggregates to its zero, like a non-Nullable CH column, and any
    * other to NULL.
    */
  private def agg(f: String, c: String, t: Table, micros: Boolean): Option[Seq[Row] => String] =
    t.col(c).filter(!micros || _._2 == Kind.Time).flatMap { case (i, k) =>
      def present(rs: Seq[Row]): Seq[Any] = rs.map(_(i)).filter(_ != null)
      val show: Any => String = if (micros) _.toString else render(k, _)
      val zero = if (k == Kind.Whole || k == Kind.Time) show(0L) else "\\N"
      (f, k) match {
        case ("count", _) => Some(rs => present(rs).size.toString)
        case ("sum", Kind.Whole) => Some(rs => present(rs).map(_.asInstanceOf[Long]).sum.toString)
        case ("sum", Kind.Real) => Some { rs =>
          val vs = present(rs).map(_.asInstanceOf[Double])
          if (vs.isEmpty) "\\N" else vs.sum.toString
        }
        case ("sum", _) => None
        case _ => Some { rs =>
          val vs = present(rs)
          (if (f == "max") vs.maxOption(order(k)) else vs.minOption(order(k))).fold(zero)(show)
        }
      }
    }

  /** Start the double; returns the server, whose `stop` also releases the
    * handler threads. The caller stops it.
    *
    * @param server the listening server to attach to — the default plain
    *        loopback, or a caller-built `HttpsServer` (TLS/mTLS gate
    *        entries run the SAME grammar over a real handshake).
    * @param gzip when true the double ENFORCES the compressed wire posture
    *        end-to-end, like a bandwidth-billed production cluster would
    *        reward: INSERT bodies must arrive `Content-Encoding: gzip`
    *        (identity bodies 400), every request must offer
    *        `Accept-Encoding: gzip`, SELECTs must carry
    *        `enable_http_compression=1`, and every response body —
    *        including the streamed row SELECTs — is served gzipped. A
    *        client whose compression stack is broken in either direction
    *        cannot pass a single statement.
    * @param auth when set, every request must carry `Authorization:
    *        Basic` for exactly these (user, password) credentials — 401
    *        otherwise, like a real CH with users configured (the
    *        reference authenticates every connection,
    *        clickhouse.go:40-43).
    * @param quantiles when false the double models an older server without
    *        `quantiles(...)`: the balanced-planning probe 400s and the
    *        scan must degrade to equal-width ranges, never fail.
    * @param statements every SELECT the double is sent, in order.
    */
  def start(server: HttpServer = LiveQueries.loopbackServer(1024),
      gzip: Boolean = false, auth: Option[(String, String)] = None,
      quantiles: Boolean = true, statements: ConcurrentLinkedQueue[String] =
        new ConcurrentLinkedQueue[String]()): HttpServer = {
    val tables = new ConcurrentHashMap[String, Table]()
    val expectedAuth = auth.map { case (u, pw) =>
      "Basic " + java.util.Base64.getEncoder.encodeToString(
        s"$u:$pw".getBytes(StandardCharsets.UTF_8))
    }
    LiveQueries.pooledServer("live-ch-stub", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        def fail(msg: String): Unit = respond(ex, 400, msg)
        expectedAuth.foreach { want =>
          if (!Option(ex.getRequestHeaders.getFirst("Authorization")).contains(want)) {
            ex.getRequestBody.readAllBytes()
            respond(ex, 401, "Code: 516. DB::Exception: Authentication failed"); return
          }
        }
        val params = Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&"))
        def param(key: String): Option[String] = params.collectFirst {
          case kv if kv.startsWith(s"$key=") =>
            java.net.URLDecoder.decode(kv.substring(key.length + 1), "UTF-8")
        }
        val q = param("query").getOrElse("")
        val rawBody = ex.getRequestBody.readAllBytes()
        val bodyGzipped = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .exists(_.equalsIgnoreCase("gzip"))
        val body = new String(
          if (bodyGzipped) graft.sources.LiveHttp.gunzip(rawBody) else rawBody,
          StandardCharsets.UTF_8)
        // compressed-posture enforcement: a gzip double REJECTS any request
        // whose wire posture regressed to identity — the gate entry fails
        // before any oracle compare can accidentally match
        if (gzip && !acceptsGzip(ex)) { fail("stub requires Accept-Encoding: gzip"); return }
        if (gzip && q.startsWith("INSERT") && !bodyGzipped) {
          fail("stub requires gzip INSERT bodies"); return
        }
        if (gzip && body.startsWith("SELECT ") && !params.contains("enable_http_compression=1")) {
          fail("stub requires enable_http_compression=1 on SELECTs"); return
        }
        q match {
          case Insert(name, list) =>
            val t = Option(tables.get(name)).getOrElse {
              fail(s"Table $name does not exist"); return
            }
            val cols = Name.findAllMatchIn(list).map(m => t.col(m.group(1)).getOrElse {
              fail(s"No such column ${m.group(1)} in table $name"); return
            }).toIndexedSeq
            val batch = body.split("\n").iterator.filter(_.nonEmpty).map(line =>
              csvRow(line, cols, t.width).getOrElse {
                fail(s"stub cannot parse CSV line: $line"); return
              }).toVector
            if (param("insert_deduplication_token").forall(t.seenTokens.add)) t.add(batch)
            respond(ex, 200, "")
          case _ if body.startsWith("CREATE TABLE") =>
            val m = Create.matcher(body)
            if (!m.matches()) { fail(s"unsupported statement: $body"); return }
            val cols = ColumnDef.findAllMatchIn(m.group(2)).map { c =>
              c.group(1) -> kindOf(c.group(2)).getOrElse {
                fail(s"the stub does not model column type ${c.group(2)}"); return
              }
            }.toSeq
            if (cols.isEmpty) { fail(s"no columns in: $body"); return }
            tables.putIfAbsent(m.group(1), new Table(cols))
            respond(ex, 200, "")
          case _ if body.startsWith("SELECT ") =>
            statements.add(body) // statement ledger: probe-economy pins read it
            select(ex, body)
          case _ => fail(s"unsupported statement: $q$body")
        }
      }

      private def select(ex: HttpExchange, body: String): Unit = {
        def fail(msg: String): Unit = respond(ex, 400, msg)
        val m = Select.matcher(body)
        if (!m.matches()) { fail(s"outside the declared grammar: $body"); return }
        val t = Option(tables.get(m.group(3))).getOrElse {
          fail(s"Table ${m.group(3)} does not exist"); return
        }
        val items = m.group(2).split(", ").toSeq
        val whereAtoms = Option(m.group(4)).toSeq.flatMap(atoms)
        val preds = whereAtoms.map { a =>
          atom(a, t).getOrElse { fail(s"unsupported WHERE atom: $a"); return }
        }
        // token-equality probes start from the per-token index slice (the
        // primary-key read path of a real CH); every predicate still
        // applies — the equality atom just re-verifies on the slice
        val TokEqAtom = """`token_id` = (\d+)""".r
        val base = whereAtoms.collectFirst { case TokEqAtom(v) => v.toLong }
          .map(t.tokenSlice).getOrElse(t.all())
        val matched0 = base.filter(r => preds.forall(_(r)))
        val matched = Option(m.group(6)).fold(matched0) { c =>
          val (i, k) = t.col(c).getOrElse { fail(s"unsupported ORDER BY column: $c"); return }
          matched0.sortBy(_(i))(if (m.group(7) == " DESC") order(k).reverse else order(k))
        }
        val limit = Option(m.group(8)).map(_.toInt)
        Option(m.group(5)) match {
          case Some(g) => // aggregate with GROUP BY (one row per group)
            // the quantiles flag threads through EVERY item: a
            // quantiles-less server must refuse the function in any
            // statement shape, or the double could mask a probe regression
            val keys = g.split(", ").toSeq.map(ge => rowItem(ge, t).getOrElse {
              fail(s"unsupported group expr: $ge"); return
            })
            val fs = items.map(it => aggItem(it, t, quantiles)
              .orElse(rowItem(it, t).map(f => (rs: Seq[Row]) => f(rs.head)))
              .getOrElse { fail(s"unsupported select item: $it"); return })
            val out = matched.groupBy(r => keys.map(_(r))).toSeq.sortBy(_._1.mkString("\t"))
              .map { case (_, rs) => fs.map(_(rs)).mkString("\t") }
            respond(ex, 200, out.mkString("", "\n", if (out.isEmpty) "" else "\n"), gzip)
          case None if items.forall(aggItem(_, t, quantiles).isDefined) =>
            // global aggregate (no GROUP BY): one row
            respond(ex, 200,
              items.map(aggItem(_, t, quantiles).get(matched)).mkString("", "\t", "\n"), gzip)
          case None => // row select: STREAMED (chunked), like a real CH —
            // the server never materializes the response either, so an
            // in-JVM probe of the CLIENT's retention isn't polluted by
            // the double's own copy. Items are row-independent, so they
            // validate BEFORE headers go out (no mid-stream 400s).
            val fs = items.map(it =>
              rowItem(it, t).getOrElse { fail(s"unsupported select item: $it"); return })
            val rendered = matched.iterator.map(r => fs.map(_(r)).mkString("\t"))
            val sel = if (m.group(1) != null) rendered.distinct else rendered
            val capped = limit.map(sel.take).getOrElse(sel)
            val compress = gzip && acceptsGzip(ex)
            if (compress) ex.getResponseHeaders.set("Content-Encoding", "gzip")
            ex.sendResponseHeaders(200, 0) // chunked
            // gzip mode streams through a GZIPOutputStream — compressed
            // responses stay incremental on the wire, like a real CH
            val os: java.io.OutputStream =
              if (compress) new java.util.zip.GZIPOutputStream(ex.getResponseBody, 1 << 13)
              else new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 16)
            capped.foreach { line =>
              os.write(line.getBytes(StandardCharsets.UTF_8)); os.write('\n')
            }
            os.close()
            ex.close()
        }
      }
    }, server)
  }
}
