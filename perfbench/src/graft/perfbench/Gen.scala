package graft.perfbench

import java.time.Instant
import java.util.SplittableRandom

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.schema.{SignalDefinition, SignalDefinitions, ValueKind}

/** Seeded workload generator and its oracle.
  *
  * Documents are variants of the 8 reference fixture documents
  * (`static_vehicle_data_test.json`): the seed picks the fixture, the
  * token ids, the document times and every signal value. Both JVMs of a
  * run (the ES double and the engine) call the same generator with the
  * same seed; the double renders the documents to JSON, the engine side
  * only derives the expected results from them. Nothing here reads what
  * the engine produced.
  *
  * The shape of a workload (token count, documents per token, time
  * spans) is fixed; the seed changes only values, ids and times, so two
  * seeds do the same amount of work.
  */
object Gen {

  val Index = "device-status"
  val DayMs: Long = 86400000L
  /** The reference's default window: one month back from the stop time. */
  val StartMs: Long = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  val StopMs: Long = StartMs + 30 * DayMs
  /** The reference's filtered test configuration (`sync_test.go:133,149`). */
  val FilteredNames: Seq[String] = Seq("Vehicle.Speed", "Vehicle.VehicleIdentification.Brand")
  val BatchSize = 1000

  /** One workload's fixed shape. Newer docs fall in the last `newerDays`
    * of the window; older docs (the backfill a resume round must fetch)
    * in the `olderDays` before that.
    */
  final case class Shape(tokens: Int, newerPerToken: Int, olderPerToken: Int,
      newerDays: Int, olderDays: Int, signalNames: Seq[String]) {
    def defs: Seq[SignalDefinition] = SignalDefinitions.resolve(signalNames)
  }

  /** 113 tokens: the reference's pinned prod scope (`values-prod.yaml:15`).
    * The per-token volume is unverified: the only volume the reference
    * records is its CI workload's 1,000 docs per token
    * (`sync_test.go:269-298`). 150 keeps a run under a minute.
    */
  val Backfill: Shape = Shape(113, 150, 0, 1, 0, Nil)
  /** Above `SyncJob.PathModeThreshold` (1,000), so the staged fleet path
    * runs. The per-token volumes (6 synced docs, 2 to fetch) are
    * unverified: the reference records none for an incremental round.
    */
  val Resume: Shape = Shape(1500, 6, 2, 1, 1, FilteredNames)

  def shape(workload: String): Shape = workload match {
    case "backfill" | "signal_reads" => Backfill
    case "resume"                    => Resume
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** One generated status document. `num(i)`/`str(i)` hold the raw
    * payload value of `SignalDefinitions.all(i)` (NaN / null for the
    * other kind). `older` marks the backfill a resume round fetches.
    */
  final case class Doc(token: Long, id: String, timeMs: Long, fixture: Int,
      source: String, num: Array[Double], str: Array[String], older: Boolean) {
    def subject: String = token.toString
  }

  final case class Corpus(shape: Shape, tokens: IndexedSeq[Long], docs: IndexedSeq[Doc]) {
    def newer: IndexedSeq[Doc] = docs.filterNot(_.older)
    def older: IndexedSeq[Doc] = docs.filter(_.older)
  }

  private val Brands = IndexedSeq("Ford", "Toyota", "Tesla", "Audi", "BMW", "Honda", "Kia", "Volvo")
  private val Models = IndexedSeq("Expedition", "Camry", "Model 3", "Q5", "X3", "Civic", "Niro", "XC60")
  private val WifiStates = IndexedSeq("connected", "disconnected")
  private val Integrations = IndexedSeq(
    "dimo/integration/random-integartion-id", "dimo/integration/autopi", "dimo/integration/smartcar")

  private lazy val mapper = new ObjectMapper()

  /** The 8 fixture documents, parsed once. */
  lazy val fixtures: IndexedSeq[ObjectNode] = {
    val in = getClass.getResourceAsStream("/static_vehicle_data_test.json")
    require(in != null, "static_vehicle_data_test.json is not on the classpath")
    try {
      val arr = mapper.readTree(in)
      (0 until arr.size()).map(i => arr.get(i).asInstanceOf[ObjectNode])
    } finally in.close()
  }

  private def at(node: JsonNode, dotted: String): JsonNode =
    dotted.split('.').foldLeft(node)((n, k) => n.path(k))

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** `k` distinct sorted offsets in `[0, span)`. */
  private def distinctOffsets(r: SplittableRandom, k: Int, span: Long): IndexedSeq[Long] = {
    val s = scala.collection.mutable.TreeSet.empty[Long]
    while (s.size < k) s += r.nextLong(span)
    s.toIndexedSeq
  }

  def corpus(workload: String, seed: Long): Corpus = corpus(shape(workload), seed)

  def corpus(sh: Shape, seed: Long): Corpus = {
    val tr = rng(seed, 1L)
    val tokenSet = scala.collection.mutable.TreeSet.empty[Long]
    while (tokenSet.size < sh.tokens) tokenSet += 1000000L + tr.nextLong(9000000L)
    val tokens = tokenSet.toIndexedSeq
    val all = SignalDefinitions.all
    val newerFrom = StopMs - sh.newerDays * DayMs
    val olderFrom = newerFrom - sh.olderDays * DayMs
    val docs = tokens.flatMap { token =>
      val r = rng(seed, token)
      def one(k: Int, timeMs: Long, older: Boolean): Doc = {
        val fx = r.nextInt(fixtures.size)
        val data = fixtures(fx).path("data")
        val num = new Array[Double](all.size)
        val str = new Array[String](all.size)
        all.zipWithIndex.foreach { case (d, i) =>
          d.kind match {
            case ValueKind.Number =>
              num(i) =
                if (d.originalName == "speed") r.nextInt(161).toDouble
                else {
                  val base = at(data, d.originalName)
                  val v = base.asDouble() * (0.8 + 0.4 * r.nextDouble())
                  if (base.isIntegralNumber) math.round(v).toDouble
                  else math.round(v * 1e4) / 1e4
                }
              str(i) = null
            case _ =>
              num(i) = Double.NaN
              str(i) = d.originalName match {
                case "make"  => Brands(r.nextInt(Brands.size))
                case "model" => Models(r.nextInt(Models.size))
                case _       => WifiStates(r.nextInt(WifiStates.size))
              }
          }
        }
        Doc(token, s"$token-$k", timeMs, fx, Integrations(r.nextInt(Integrations.size)),
          num, str, older)
      }
      val newer = distinctOffsets(r, sh.newerPerToken, sh.newerDays * DayMs)
        .zipWithIndex.map { case (o, k) => one(k, newerFrom + o, older = false) }
      val older =
        if (sh.olderPerToken == 0) IndexedSeq.empty
        else distinctOffsets(r, sh.olderPerToken, sh.olderDays * DayMs)
          .zipWithIndex.map { case (o, k) => one(sh.newerPerToken + k, olderFrom + o, older = true) }
      newer ++ older
    }
    Corpus(sh, tokens, docs)
  }

  // ── rendering (the ES double's side) ──────────────────────────────────

  private def putValue(data: ObjectNode, dotted: String, d: Doc, i: Int): Unit = {
    val path = dotted.split('.')
    val parent = path.init.foldLeft(data) { (n, k) =>
      n.get(k) match {
        case o: ObjectNode => o
        case _             => n.putObject(k)
      }
    }
    val leaf = path.last
    if (d.str(i) != null) parent.put(leaf, d.str(i))
    else if (d.num(i) == math.rint(d.num(i))) parent.put(leaf, d.num(i).toLong)
    else parent.put(leaf, d.num(i))
  }

  /** The full `_source` of a document. */
  def renderFull(d: Doc): String = {
    val o = fixtures(d.fixture).deepCopy()
    o.put("id", d.id)
    o.put("subject", d.subject)
    o.put("source", d.source)
    o.put("time", Instant.ofEpochMilli(d.timeMs).toString)
    val data = o.get("data").asInstanceOf[ObjectNode]
    SignalDefinitions.all.zipWithIndex.foreach { case (sd, i) => putValue(data, sd.originalName, d, i) }
    mapper.writeValueAsString(o)
  }

  /** The `_source` a real ES returns under the filtered projection:
    * the envelope fields plus `data.<originalName>` of the named signals.
    */
  def renderProjected(d: Doc, defs: Seq[SignalDefinition]): String = {
    val fx = fixtures(d.fixture)
    val o = mapper.createObjectNode()
    o.put("id", d.id)
    o.put("subject", d.subject)
    o.put("source", d.source)
    o.put("time", Instant.ofEpochMilli(d.timeMs).toString)
    o.set[JsonNode]("type", fx.get("type"))
    val data = o.putObject("data")
    val idx = SignalDefinitions.all.zipWithIndex.toMap
    defs.foreach(sd => putValue(data, sd.originalName, d, idx(sd)))
    mapper.writeValueAsString(o)
  }

  /** SHA-256 over every rendered document, in corpus order. */
  def digest(c: Corpus): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val projected = c.shape.signalNames.nonEmpty
    c.docs.foreach { d =>
      md.update(renderFull(d).getBytes("UTF-8"))
      if (projected) md.update(renderProjected(d, c.shape.defs).getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  // ── oracle (the engine side) ──────────────────────────────────────────

  /** One expected signal row. */
  final case class Row(token: Long, timeMs: Long, name: String, valueNumber: Double,
      valueString: String, source: String)

  /** Expected rows of a document under a definition set: one row per
    * signal, value scaled as the conversion table says.
    */
  def rows(d: Doc, defs: Seq[SignalDefinition]): Seq[Row] = {
    val idx = SignalDefinitions.all.zipWithIndex.toMap
    defs.map { sd =>
      val i = idx(sd)
      if (sd.kind == ValueKind.Number)
        Row(d.token, d.timeMs, sd.vssName, d.num(i) * sd.scale, "", d.source)
      else Row(d.token, d.timeMs, sd.vssName, 0.0, d.str(i), d.source)
    }
  }

  /** Per (token, signal name) summary — what the store check compares. */
  final case class Summary(n: Long, sum: Double, minMs: Long, maxMs: Long,
      strLen: Long, srcLen: Long) {
    def +(r: Row): Summary = Summary(n + 1, sum + r.valueNumber, math.min(minMs, r.timeMs),
      math.max(maxMs, r.timeMs), strLen + r.valueString.length, srcLen + r.source.length)
    def ++(o: Summary): Summary = Summary(n + o.n, sum + o.sum, math.min(minMs, o.minMs),
      math.max(maxMs, o.maxMs), strLen + o.strLen, srcLen + o.srcLen)
  }
  val EmptySummary: Summary = Summary(0, 0.0, Long.MaxValue, Long.MinValue, 0, 0)

  def merge(a: Map[(Long, String), Summary], b: Map[(Long, String), Summary]): Map[(Long, String), Summary] =
    b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, EmptySummary) ++ v) }

  def summarize(rows: Iterable[Row]): Map[(Long, String), Summary] =
    rows.groupBy(r => (r.token, r.name)).view
      .mapValues(_.foldLeft(EmptySummary)(_ + _)).toMap
}
