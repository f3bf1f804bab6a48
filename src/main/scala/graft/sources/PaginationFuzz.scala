package graft.sources

import com.sun.net.httpserver.HttpServer

import graft.queries.LiveQueries.{startStub, StubDoc, StubModes}

/** Seeded fuzz harness for the wire pagination state machine
  * ([[EsHttpClient.pagedLines]]) against an in-memory model — the
  * boundary-overlap/`_id`-dedup/size-doubling/Data-too-large-halving/
  * `search_after`-tie-drain interactions are the subtlest loop in the
  * live tier. The harness lives in MAIN so the bench ledger can run a
  * pinned-seed round as a gate entry (a fuzz regression then fails the
  * driver's bench run, not just CI); `EsPaginationFuzzSpec` drives the
  * same harness plus deterministic pins.
  *
  * The server is the fixed-corpus ES double
  * ([[graft.queries.LiveQueries.startStub]]): windowed `_search` sorted
  * time-desc with a servable-size cap (over-cap ⇒ the circuit-breaker
  * "Data too large" error, sync.go:163-178 [ext], or the
  * `max_result_window` rejection), the `search_after` drain grammar
  * ([[EsQueryDsl.searchAfterRequest]]: `_id` ascending within a window,
  * cursor-exclusive) and, in `pitMode`, the `_shard_doc` drain with
  * `slice`s.
  *
  * No SparkSession needed — plain JVM + loopback HTTP.
  */
private[graft] object PaginationFuzz {

  /** (id, Some(timeMs)) = normal doc; (id, None) = doc whose `_source.time`
    * is MALFORMED but which the server still serves inside any window (the
    * index-time-vs-source-time pathology) — `indexMs` orders it.
    * `sourceless = true` = the hit carries NO `_source` at all
    * (stored-fields/_source-disabled responses): it occupies a page slot
    * (raw-count exhaustion must see it) but can never emit.
    */
  final case class FDoc(id: String, timeMs: Option[Long], indexMs: Long,
      sourceless: Boolean = false, subject: String = "s0") {
    /** The doc as the stub serves it: `indexMs` orders and windows it. */
    def stub: StubDoc = {
      val t = timeMs.map(ms => s""""time":"${java.time.Instant.ofEpochMilli(ms)}",""")
        .getOrElse(""""time":"not-a-timestamp",""")
      StubDoc(id, subject, indexMs * 1000L,
        s"""{"id":"$id","subject":"$subject","source":"x","specversion":"1.0",$t""" +
          s""""dataschema":"v2.0","type":"c","data":{}}""",
        sourceless = sourceless)
    }
  }

  /** Drain one pagedDocs loop fully; returns the emitted payload ids. */
  def drain(server: HttpServer, batch: Int, startMs: Long, stopMs: Long,
      subject: Option[String] = None): Seq[String] = {
    val client = new EsHttpClient(s"http://127.0.0.1:${server.getAddress.getPort}")
    val src = client.pagedDocs("idx", batch, startMs, stopMs, subject, Seq.empty)
    val out = Seq.newBuilder[String]
    var doc = src.next()
    var guard = 0
    while (doc != null) {
      out += doc.path("id").asText()
      doc = src.next()
      guard += 1
      require(guard < 100000, "runaway page loop")
    }
    out.result()
  }

  /** Drain every slice of a sliced-PIT whole-window scan sequentially —
    * the PLANNER's pattern: one PIT probe up front, the id shared by
    * every slice (a per-slice open would snapshot different moments).
    * None when the server has no PIT support (the production fallback).
    */
  def drainSlices(server: HttpServer, batch: Int, startMs: Long, stopMs: Long,
      sliceMax: Int, subject: Option[String] = None): Option[Seq[String]] = {
    val client = new EsHttpClient(s"http://127.0.0.1:${server.getAddress.getPort}")
    client.openPit("idx").map { pid =>
      val out = Seq.newBuilder[String]
      for (sid <- 0 until sliceMax) {
        val src = client.slicedDocs("idx", batch, startMs, stopMs, sid, sliceMax,
          Seq.empty, Seq.empty, pid, subject)
        var doc = src.next()
        var guard = 0
        while (doc != null) {
          out += doc.path("id").asText()
          doc = src.next()
          guard += 1
          require(guard < 100000, "runaway slice loop")
        }
        src.close()
      }
      out.result()
    }
  }

  val Base = 1704000000000L

  /** One seeded fuzz campaign: randomized corpora (tie runs wider than
    * pages AND wider than the server's cap, random windows, random size
    * caps, BOTH over-size rejection styles — circuit breaker and
    * max_result_window — and sprinkled `_source`-less hits) checked for
    * exactly-once delivery of every decodable doc against the model.
    * Raises on the first divergence (seeded ⇒ reproducible).
    */
  def run(seed: Long, trials: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    for (trial <- 0 until trials) {
      val nDocs = rnd.nextInt(260)
      val span = 1 + rnd.nextInt(24) // few distinct timestamps ⇒ wide tie runs
      // a third of trials sprinkle `_source`-less hits (every k-th doc):
      // they occupy page slots — raw-count exhaustion and the raw drain
      // cursor must carry the loop past them with zero loss of the rest
      val sourcelessEvery = if (rnd.nextInt(3) == 0) 1 + rnd.nextInt(20) else 0
      // subject diversity (r15): docs spread over 1-3 subjects so the
      // per-subject match clause composes with EVERY drain/slice grammar
      // under the same random ties/caps/windows
      val nSubjects = 1 + rnd.nextInt(3)
      val docs = (0 until nDocs).map { i =>
        val t = Base + rnd.nextInt(span) * 1000L
        FDoc(f"d$i%04d", Some(t), t,
          sourceless = sourcelessEvery > 0 && i % sourcelessEvery == 0,
          subject = s"s${rnd.nextInt(nSubjects)}")
      }
      val batch = 1 + rnd.nextInt(16)
      // caps range from adversarial (often BELOW the widest tie run — the
      // search_after drain's territory) to comfortable
      val cap = 1 + rnd.nextInt(40)
      val (start, stop) =
        if (rnd.nextBoolean()) (0L, Base + 10000000L)
        else {
          val a = Base + rnd.nextInt(span) * 1000L
          val b = Base + rnd.nextInt(span) * 1000L
          (math.min(a, b), math.max(a, b) + (if (rnd.nextBoolean()) 1000L else 0L))
        }
      val expected = docs
        .filter(d => !d.sourceless && d.indexMs >= start && d.indexMs < stop).map(_.id)
      // half the trials are the ES 8 posture (PIT offered, `_id` sort
      // REJECTED — drains must ride _shard_doc), half the pre-PIT one
      val server = startStub(docs.map(_.stub), StubModes(sizeCap = cap,
        windowError = rnd.nextBoolean(), pitMode = rnd.nextBoolean()))
      val sliceMax = 2 + rnd.nextInt(5) // drawn every trial: seed-stable shape
      try {
        val got = drain(server, batch, start, stop)
        require(got.sorted == got.distinct.sorted,
          s"pagination fuzz trial $trial (seed $seed): duplicates in $got")
        require(got.toSet == expected.toSet,
          s"pagination fuzz trial $trial (seed $seed, n=$nDocs span=$span batch=$batch " +
            s"cap=$cap srcless=$sourcelessEvery window=[$start,$stop)): " +
            s"got ${got.size}, want ${expected.size}")
        // the PARALLEL whole-window form against the same corpus/window:
        // the union of all slices must be the same exactly-once row set
        // (server disjointness x strictly-advancing cursors), through the
        // same size-cap halving and sourceless raw-count machinery
        drainSlices(server, batch, start, stop, sliceMax) match {
          case Some(sliced) =>
            require(sliced.sorted == sliced.distinct.sorted,
              s"sliced fuzz trial $trial (seed $seed): duplicate across slices")
            require(sliced.toSet == expected.toSet,
              s"sliced fuzz trial $trial (seed $seed, slices=$sliceMax batch=$batch " +
                s"cap=$cap): got ${sliced.size}, want ${expected.size}")
          case None => // pre-PIT posture: the sliced path correctly declined
        }
        // the PER-SUBJECT forms against one random subject (r15): the
        // match clause composed with (a) the backward-paging loop + its
        // drains, (b) the sliced-PIT hot-subject grammar — both must be
        // the model's per-subject row set exactly-once under the same
        // ties/caps/sourceless machinery
        val subj = s"s${rnd.nextInt(nSubjects)}"
        val expectedSubj = docs.filter(d => !d.sourceless && d.subject == subj &&
          d.indexMs >= start && d.indexMs < stop).map(_.id)
        val gotSubj = drain(server, batch, start, stop, Some(subj))
        require(gotSubj.sorted == gotSubj.distinct.sorted,
          s"subject fuzz trial $trial (seed $seed): duplicates for $subj")
        require(gotSubj.toSet == expectedSubj.toSet,
          s"subject fuzz trial $trial (seed $seed, subj=$subj batch=$batch cap=$cap): " +
            s"got ${gotSubj.size}, want ${expectedSubj.size}")
        drainSlices(server, batch, start, stop, sliceMax, Some(subj)) match {
          case Some(slicedSubj) =>
            require(slicedSubj.sorted == slicedSubj.distinct.sorted,
              s"subject-sliced fuzz trial $trial (seed $seed): duplicate across slices")
            require(slicedSubj.toSet == expectedSubj.toSet,
              s"subject-sliced fuzz trial $trial (seed $seed, subj=$subj " +
                s"slices=$sliceMax cap=$cap): got ${slicedSubj.size}, " +
                s"want ${expectedSubj.size}")
          case None => // pre-PIT posture: correctly declined
        }
      } finally server.stop(0)
    }
  }
}
