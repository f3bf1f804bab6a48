package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._

import graft.queries.LiveQueries.{startStub, StubCounters, StubDoc, StubModes}

/** The PARALLEL whole-window live ES scan (`slices` option): an
  * unfiltered full-index read used to be ONE sequential page loop (the
  * reference has no such scan at all — its loops are per-token); with
  * `slices=N` the scan plans N tasks, each draining its own server-side
  * slice of a point-in-time (`slice:{id,max}` + `sort:_shard_doc` +
  * `search_after` — [[graft.sources.EsHttpClient.slicedDocs]]). Pins:
  *
  *   - exactly-once across slices (the server's disjointness + each
  *     cursor's strict advance): full corpus, no duplicates, N planned
  *     partitions, every slice id requested;
  *   - pushed time windows and LIMIT still apply (window in every slice
  *     request; limit caps each slice, Spark's global Limit above);
  *   - a PIT-less server parallelizes through TIME-WINDOW CUTS instead
  *     (filter-disjoint half-open tiles at the server's own time
  *     percentiles — no snapshot exists to tear), and with no
  *     percentiles support either DEGRADES to the sequential loop —
  *     identical result every way;
  *   - subject-constrained scans keep the per-subject fan-out and a
  *     pushed DESC top-K keeps the sequential early-stopping loop
  *     (slices read everything; the loop reads K).
  */
class EsSlicedScanSpec extends SparkTestBase {

  private val BaseMs = 1704000000000L

  private def corpus(n: Int): IndexedSeq[StubDoc] =
    (0 until n).map { i =>
      val subj = s"s${i % 37}"
      val ms = BaseMs + i * 1000L
      val iso = java.time.Instant.ofEpochMilli(ms)
      StubDoc(f"d$i%06d", subj, ms * 1000L,
        s"""{"id":"d$i","subject":"$subj","source":"dimo/integration/live",""" +
          s""""specversion":"1.0","time":"$iso","dataschema":"dimo.zone.status/v2.0",""" +
          s""""type":"com.dimo.device.status","data":{"i":$i}}""")
    }

  private def url(s: com.sun.net.httpserver.HttpServer) =
    s"http://127.0.0.1:${s.getAddress.getPort}"

  test("slices=4 on a PIT server: full corpus exactly once across 4 parallel slice drains") {
    val docs = corpus(500)
    val served = new java.util.concurrent.atomic.AtomicLong
    val sliceSeen = new ConcurrentLinkedQueue[Int]()
    val pitOpened = new java.util.concurrent.atomic.AtomicLong
    val server = startStub(docs, StubModes(pitMode = true),
      StubCounters(served = served, sliceSeen = sliceSeen, pitOpened = pitOpened))
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").load()
      assert(live.rdd.getNumPartitions === 4, "one task per slice")
      val ids = live.select(get_json_object(col("data"), "$.i").cast("long")).as[Long](
        org.apache.spark.sql.Encoders.scalaLong).collect()
      assert(ids.length === 500 && ids.toSet === (0L until 500L).toSet,
        "every document exactly once across slices")
      assert(served.get() === 500L, "no document served twice (disjoint slices)")
      import scala.jdk.CollectionConverters._
      assert(sliceSeen.asScala.toSet === Set(0, 1, 2, 3), "all four slice ids requested")
      // ONE point-in-time, opened by the planner, shared by every slice:
      // per-task opens would snapshot 4 different moments — under
      // concurrent indexing a doc arriving between opens is visible to
      // some slices and not others (the torn read). The stub also 400s
      // any search whose pit id it never issued, so the shared id is
      // structurally enforced, not just counted. (getNumPartitions above
      // plans once too — without caching this would read 2, not 1.)
      assert(pitOpened.get() === 2L,
        s"expected one PIT per planning pass (2 passes), saw ${pitOpened.get()}")
    } finally server.stop(0)
  }

  test("a transient _pit failure retries at planning — never a silent fallback") {
    // the ADVICE-high failure mode: a 503 blip on the PIT probe used to
    // yield None ("no support") — on a non-zero slice that silently LOST
    // the slice's rows, on slice 0 it re-read everything (duplicates).
    // Now the probe retries transients like every other call and the
    // sliced plan proceeds against the recovered server.
    val docs = corpus(300)
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = startStub(docs, StubModes(pitMode = true, pitTransientFailures = 1),
      StubCounters(served = served))
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").load()
      val ids = live.select(col("id")).collect().map(_.getString(0))
      assert(ids.length === 300 && ids.toSet.size === 300,
        "the sliced plan must survive a transient PIT-probe blip exactly-once")
      assert(served.get() === 300L, "no slice lost or duplicated after the retry")
    } finally server.stop(0)
  }

  test("pushed time window and LIMIT apply inside every slice request") {
    val docs = corpus(400)
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = startStub(docs, StubModes(pitMode = true), StubCounters(served = served))
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").load()
      // half-open window over the middle half of the corpus
      val lo = new java.sql.Timestamp(BaseMs + 100 * 1000L)
      val hi = new java.sql.Timestamp(BaseMs + 300 * 1000L)
      val windowed = live.where(col("time") >= lo && col("time") < hi)
      // a projection keeps this on the ROW path (a bare count() would be
      // answered by the pushed-COUNT probe and serve zero documents)
      assert(windowed.select(col("id")).collect().length === 200)
      // the window reached the server: only matching docs were served
      assert(served.get() === 200L, "the slice requests carried the pushed window")
      // a pushed LIMIT caps each slice loop; the global Limit returns n
      assert(live.limit(37).collect().length === 37)
    } finally server.stop(0)
  }

  test("a PIT-less server parallelizes via TIME-WINDOW CUTS — filter-disjoint, never torn") {
    // no point-in-time endpoint, but percentiles answer: the planner
    // tiles [start, stop) into half-open sub-ranges at the server's own
    // time quantiles — each tile is the ordinary exactly-once page loop,
    // tiles are disjoint BY FILTER (no snapshot to tear), and the
    // decision is still the DRIVER's, baked into the plan
    val docs = corpus(300)
    val sliceSeen = new ConcurrentLinkedQueue[Int]()
    val server = startStub(docs, StubModes(pitMode = false),
      StubCounters(sliceSeen = sliceSeen))
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").load()
      assert(live.rdd.getNumPartitions === 4,
        "PIT-less + percentiles: one task per time tile")
      val proj = live.select(col("id"))
      val ids = proj.collect().map(_.getString(0))
      assert(ids.length === 300 && ids.toSet.size === 300,
        "disjoint half-open tiles deliver everything exactly once")
      assert(sliceSeen.isEmpty, "no slice request ever reached the PIT-less server")
      // balance telemetry: the tiling inherits whatever the percentile
      // estimate gives — tiles executed surface as a scan metric so a
      // degenerate tiling (one tile hoarding the window on a skewed time
      // distribution) is visible in the SQL UI next to each task's
      // liveDocs breakdown
      val scanNode = proj.queryExecution.executedPlan.collectLeaves()
        .find(_.getClass.getSimpleName == "BatchScanExec").get
      assert(scanNode.metrics("liveWindowTiles").value === 4L,
        "each executed tile reports itself")
    } finally server.stop(0)
  }

  test("a PIT-less server WITHOUT percentiles degrades to the sequential loop at planning") {
    val docs = corpus(300)
    val sliceSeen = new ConcurrentLinkedQueue[Int]()
    val server = startStub(docs, StubModes(pitMode = false, timeCutsMode = false),
      StubCounters(sliceSeen = sliceSeen))
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").load()
      // every parallel feeler probed absent: one sequential partition —
      // coarser, never wrong (and never a torn read)
      assert(live.rdd.getNumPartitions === 1,
        "no PIT and no percentiles must plan the single sequential loop")
      val proj = live.select(col("id"))
      val ids = proj.collect().map(_.getString(0))
      assert(ids.length === 300 && ids.toSet.size === 300,
        "the sequential fallback reads everything exactly once")
      assert(sliceSeen.isEmpty, "no slice request ever reached the PIT-less server")
      // the fallback is NOT a tile — zero keeps the telemetry honest
      // (tiles>0 must mean a window-cut plan actually ran)
      val scanNode = proj.queryExecution.executedPlan.collectLeaves()
        .find(_.getClass.getSimpleName == "BatchScanExec").get
      assert(scanNode.metrics("liveWindowTiles").value === 0L,
        "a sequential fallback reports zero tiles")
    } finally server.stop(0)
  }

  test("a HOT subject on a PIT-less server drains through time tiles; cold keep their loops") {
    // the q234 shape without PIT support (an ES 7 posture): the terms
    // probe still spots the whale, but its parallel drain is the
    // filter-disjoint time tiling instead of sliced-PIT — same bounded
    // wall clock, no snapshot required
    def doc(subject: String, i: Int): StubDoc = {
      val ms = BaseMs + i * 1000L
      val iso = java.time.Instant.ofEpochMilli(ms)
      StubDoc(f"$subject-d$i%06d", subject, ms * 1000L,
        s"""{"id":"$subject-$i","subject":"$subject","source":"dimo/integration/live",""" +
          s""""specversion":"1.0","time":"$iso","dataschema":"dimo.zone.status/v2.0",""" +
          s""""type":"com.dimo.device.status","data":{"i":$i}}""")
    }
    val docs: IndexedSeq[StubDoc] = (0 until 400).map(doc("hot", _)) ++
      (0 until 5).flatMap(s => (0 until 20).map(doc(s"c$s", _)))
    val sliceSeen = new ConcurrentLinkedQueue[Int]()
    val server = startStub(docs, StubModes(pitMode = false),
      StubCounters(sliceSeen = sliceSeen))
    try {
      val subjects = "hot" +: (0 until 5).map(i => s"c$i")
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "16")
        .option("slices", "4").option("hotSubjectPages", "2").load()
        .where(col("subject").isin(subjects: _*))
      // 5 cold single-subject groups + 4 time tiles for the hot subject
      assert(live.rdd.getNumPartitions === 9,
        "cold groups plus one time-tile set for the hot subject")
      val proj = live.select(col("id"))
      val ids = proj.collect().map(_.getString(0))
      assert(ids.length === 500 && ids.toSet.size === 500,
        "every document exactly once across hot tiles AND cold loops")
      assert(sliceSeen.isEmpty, "no slice request ever reached the PIT-less server")
      // telemetry separates the shapes: the whale's 4 tiles report, the
      // 5 cold sequential loops do not
      val scanNode = proj.queryExecution.executedPlan.collectLeaves()
        .find(_.getClass.getSimpleName == "BatchScanExec").get
      assert(scanNode.metrics("liveWindowTiles").value === 4L,
        "only the hot subject's window-cut tiles count")
    } finally server.stop(0)
  }

  test("a LONG hot-list on a PIT-less server: one _msearch probe, or the bounded pool without it") {
    // 10 whales: with `_msearch` the planner batches every percentiles
    // probe into ONE round trip per planning pass (O(1) for any hot-list
    // length); a server without the endpoint (404) falls back to
    // per-subject probes on the bounded 8-thread pool — and the PLAN is
    // identical either way: one tile set per whale, cold loops intact,
    // every document exactly once
    def doc(subject: String, i: Int): StubDoc = {
      val ms = BaseMs + i * 1000L
      val iso = java.time.Instant.ofEpochMilli(ms)
      StubDoc(f"$subject-d$i%06d", subject, ms * 1000L,
        s"""{"id":"$subject-$i","subject":"$subject","source":"dimo/integration/live",""" +
          s""""specversion":"1.0","time":"$iso","dataschema":"dimo.zone.status/v2.0",""" +
          s""""type":"com.dimo.device.status","data":{"i":$i}}""")
    }
    val whales = (0 until 10).map(i => f"w$i")
    val docs: IndexedSeq[StubDoc] =
      whales.flatMap(w => (0 until 40).map(doc(w, _))).toIndexedSeq ++
        (0 until 3).flatMap(c => (0 until 20).map(doc(s"c$c", _)))
    for (msearch <- Seq(true, false)) {
      val sliceSeen = new ConcurrentLinkedQueue[Int]()
      val msearchRequests = new java.util.concurrent.atomic.AtomicLong
      val server = startStub(docs, StubModes(pitMode = false, msearchMode = msearch),
        StubCounters(sliceSeen = sliceSeen,
        msearchRequests = msearchRequests))
      try {
        val subjects = whales ++ (0 until 3).map(i => s"c$i")
        val live = spark.read.format("graft-status-live")
          .option("url", url(server)).option("batchSize", "16")
          .option("slices", "2").option("hotSubjectPages", "2").load()
          .where(col("subject").isin(subjects: _*))
        // 40 docs > 2 pages x 16: all ten whales are hot; each tiles into
        // 2 half-open sub-ranges; the 3 cold subjects keep 3 loops
        assert(live.rdd.getNumPartitions === 23,
          s"10 whales x 2 tiles + 3 cold single-subject groups (msearch=$msearch)")
        val proj = live.select(col("id"))
        val ids = proj.collect().map(_.getString(0))
        assert(ids.length === 460 && ids.toSet.size === 460,
          s"every document exactly once across 20 tiles and 3 loops (msearch=$msearch)")
        assert(sliceSeen.isEmpty, "no slice request ever reached the PIT-less server")
        // O(1) round trips with the endpoint: getNumPartitions and the
        // collect each planned once -> exactly one batch per pass; the
        // 404 fallback never retries the endpoint per subject either
        assert(msearchRequests.get() === (if (msearch) 2L else 0L),
          s"one batched probe per planning pass, got ${msearchRequests.get()} (msearch=$msearch)")
        val scanNode = proj.queryExecution.executedPlan.collectLeaves()
          .find(_.getClass.getSimpleName == "BatchScanExec").get
        assert(scanNode.metrics("liveWindowTiles").value === 20L,
          s"all twenty whale tiles report; cold loops do not (msearch=$msearch)")
      } finally server.stop(0)
    }
  }

  test("the streaming tail slices its micro-batch windows too (exactly-once into the sink)") {
    val docs = corpus(240)
    val sliceSeen = new ConcurrentLinkedQueue[Int]()
    val pitOpened = new java.util.concurrent.atomic.AtomicLong
    val pitClosedIds = new ConcurrentLinkedQueue[String]()
    val server = startStub(docs, StubModes(pitMode = true),
      StubCounters(sliceSeen = sliceSeen, pitOpened = pitOpened, pitClosedIds = pitClosedIds))
    try {
      val q = spark.readStream.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").load()
        .select(col("id"))
        .writeStream.format("memory").queryName("sliced_tail").start()
      try q.processAllAvailable() finally q.stop()
      val ids = spark.sql("SELECT id FROM sliced_tail").collect().map(_.getString(0))
      assert(ids.length === 240 && ids.toSet.size === 240,
        "a sliced micro-batch window delivers exactly once")
      import scala.jdk.CollectionConverters._
      assert(sliceSeen.asScala.toSet === Set(0, 1, 2, 3),
        "the tail's window reads fan into all four slices")
      // a long-lived tail must not leak server search contexts: superseded
      // batches release at the NEXT planning, the LAST at stream stop() —
      // every PIT the stub ever issued gets DELETEd (the wire close rides
      // a daemon thread so teardown never blocks on it: poll)
      val deadline = System.currentTimeMillis() + 20000
      while (pitClosedIds.asScala.toSet.size.toLong < pitOpened.get() &&
        System.currentTimeMillis() < deadline) Thread.sleep(25)
      assert(pitClosedIds.asScala.toSet.size.toLong === pitOpened.get(),
        s"stream teardown must release every PIT: opened ${pitOpened.get()}, " +
          s"closed ${pitClosedIds.asScala.toSet.size}")
    } finally server.stop(0)
  }

  test("a HOT subject plans its own slice drains; cold subjects keep their loops") {
    // one subject with a 20×-deep history: the per-subject page loop was
    // the last single-task shape in the live tier — with slices=4 the
    // planner's terms probe spots the hot subject and fans ITS window
    // across 4 sliced-PIT tasks (the slice composes with the match
    // clause server-side) over ONE shared snapshot, while cold subjects
    // keep their grouped sequential loops
    def doc(subject: String, i: Int): StubDoc = {
      val ms = BaseMs + i * 1000L
      val iso = java.time.Instant.ofEpochMilli(ms)
      StubDoc(f"$subject-d$i%06d", subject, ms * 1000L,
        s"""{"id":"$subject-$i","subject":"$subject","source":"dimo/integration/live",""" +
          s""""specversion":"1.0","time":"$iso","dataschema":"dimo.zone.status/v2.0",""" +
          s""""type":"com.dimo.device.status","data":{"i":$i}}""")
    }
    val docs: IndexedSeq[StubDoc] = (0 until 400).map(doc("hot", _)) ++
      (0 until 5).flatMap(s => (0 until 20).map(doc(s"c$s", _)))
    val sliceSeen = new ConcurrentLinkedQueue[Int]()
    val pitOpened = new java.util.concurrent.atomic.AtomicLong
    val slicedSubjects = new ConcurrentLinkedQueue[String]()
    val server = startStub(docs, StubModes(pitMode = true),
      StubCounters(sliceSeen = sliceSeen, pitOpened = pitOpened, slicedSubjects = slicedSubjects))
    try {
      val subjects = "hot" +: (0 until 5).map(i => s"c$i")
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "16")
        .option("slices", "4").option("hotSubjectPages", "2").load()
        .where(col("subject").isin(subjects: _*))
      // 5 cold subjects → 5 single-subject groups, + 4 slices for the hot
      assert(live.rdd.getNumPartitions === 9,
        "cold groups plus one slice set for the hot subject")
      val ids = live.select(col("id")).collect().map(_.getString(0))
      assert(ids.length === 500 && ids.toSet.size === 500,
        "every document exactly once across hot slices AND cold loops")
      import scala.jdk.CollectionConverters._
      assert(slicedSubjects.asScala.toSet === Set("hot"),
        "ONLY the hot subject may ride the sliced drain")
      assert(sliceSeen.asScala.toSet === Set(0, 1, 2, 3),
        "the hot subject's docs fanned across all four slices")
    } finally server.stop(0)
  }

  test("probe counts pack cold groups by LOAD, not by count (no straggler group)") {
    // 6 cold subjects with depths [500,450,60,50,40,30] into 2 groups: a
    // group's loops run SEQUENTIALLY inside one task, so equal-count
    // slicing ({500,450,60} = 1010 docs in one task) makes the heavy
    // group the scan's wall clock. With the terms probe's counts in
    // hand, planning packs greedy least-loaded: {500,50,30} / {450,60,40}
    // — deterministic, and the heaviest group shrinks 1010 → 580.
    val depths = Seq("a" -> 500, "b" -> 450, "c" -> 60, "d" -> 50, "e" -> 40, "f" -> 30)
    def doc(subject: String, i: Int): StubDoc = {
      val ms = BaseMs + i * 1000L
      val iso = java.time.Instant.ofEpochMilli(ms)
      StubDoc(f"$subject-d$i%06d", subject, ms * 1000L,
        s"""{"id":"$subject-$i","subject":"$subject","source":"dimo/integration/live",""" +
          s""""specversion":"1.0","time":"$iso","dataschema":"dimo.zone.status/v2.0",""" +
          s""""type":"com.dimo.device.status","data":{"i":$i}}""")
    }
    val docs: IndexedSeq[StubDoc] =
      depths.flatMap { case (s, n) => (0 until n).map(doc(s, _)) }.toIndexedSeq
    val server = startStub(docs, StubModes(pitMode = true))
    try {
      val scan = new graft.sources.StatusLiveScan(url(server), "device-status", 64,
        0L, graft.sources.StatusLiveSource.DefaultStopMs, None, Map.empty,
        Array(org.apache.spark.sql.sources.In("subject", depths.map(_._1).toArray[Any])),
        graft.sources.StatusV2Source.Schema,
        maxTasks = 2, slices = 2, hotSubjectPages = 100) // threshold 6400: nothing hot
      val parts = scan.planInputPartitions().toSeq
        .collect { case p: graft.sources.StatusLivePartition => p }
      assert(parts.length === 2, "still exactly maxTasks groups")
      val byDepth = depths.toMap
      val loads = parts.map(_.subjects.get.map(byDepth).sum)
      assert(loads.toSet === Set(580, 550), s"greedy least-loaded packing: $loads")
      assert(parts.flatMap(_.subjects.get).sorted === depths.map(_._1).sorted,
        "every subject lands in exactly one group")
    } finally server.stop(0)
  }

  test("the planner-opened PIT is RELEASED at query end — after the last slice request, never before") {
    // DSv2 gives the Scan no completion hook and no task may close a
    // shared PIT (siblings may still drain), so the scan arms a one-shot
    // QueryExecutionListener at open time: when the ACTION whose plan
    // contains this scan completes, the driver best-effort DELETEs the
    // PIT — a production scan that raises pitKeepAlive no longer holds
    // server search contexts for the whole keep-alive after every read
    val docs = corpus(500)
    val servedSliced = new java.util.concurrent.atomic.AtomicLong
    val pitClosedIds = new ConcurrentLinkedQueue[String]()
    val servedAtClose = new java.util.concurrent.atomic.AtomicLong(-1)
    val server = startStub(docs, StubModes(pitMode = true),
      StubCounters(servedSliced = servedSliced, pitClosedIds = pitClosedIds,
      servedSlicedAtFirstClose = servedAtClose))
    try {
      val ds = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").load().select(col("id"))
      assert(ds.collect().length === 500)
      // the listener bus delivers asynchronously: poll for the DELETE
      val deadline = System.currentTimeMillis() + 20000
      while (pitClosedIds.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(25)
      import scala.jdk.CollectionConverters._
      assert(pitClosedIds.asScala.nonEmpty, "query end must DELETE the planner-opened PIT")
      // ...and ONLY after the scan finished: at the moment of the first
      // DELETE every one of the 500 docs had already been served (a
      // premature release would also 400 a still-draining sibling — the
      // stub frees the context on DELETE like a real ES)
      assert(servedAtClose.get() === 500L,
        s"PIT released after ${servedAtClose.get()} of 500 sliced docs — before the last request")
      // a FRESH read after the release plans a new snapshot and works
      val again = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").load().select(col("id")).collect()
      assert(again.length === 500, "a new plan opens a new PIT — the release never strands reads")
    } finally server.stop(0)
  }

  test("re-executing a CACHED plan after its PIT release fails LOUDLY with the remedy") {
    // a second action on the SAME Dataset re-executes the cached physical
    // plan, whose partitions carry the now-closed PIT id — the same
    // failure a keep-alive lapse always caused, now deterministic. No
    // task-side recovery is sound (a per-task PIT tears the snapshot),
    // so the contract is a loud, actionable failure — never wrong rows.
    val docs = corpus(200)
    val pitClosedIds = new ConcurrentLinkedQueue[String]()
    val server = startStub(docs, StubModes(pitMode = true),
      StubCounters(pitClosedIds = pitClosedIds))
    try {
      val ds = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").load().select(col("id"))
      assert(ds.collect().length === 200)
      val deadline = System.currentTimeMillis() + 20000
      while (pitClosedIds.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(25)
      assert(!pitClosedIds.isEmpty, "precondition: the release hook fired")
      val e = intercept[org.apache.spark.SparkException](ds.collect())
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("re-run the action as a FRESH read")),
        s"the failure must carry the remedy, got: ${messages(e).mkString(" | ")}")
    } finally server.stop(0)
  }

  test("pitReleaseAtQueryEnd=false keeps the keep-alive lifecycle: repeated actions on one Dataset work") {
    // the eager-release trade, now an OPTION (default on): a caller that
    // re-executes the same sliced Dataset (collect then count, a notebook
    // re-run) can opt back into keep-alive-only reclamation — no
    // query-end hook is armed, the cached plan's PIT stays live for
    // pitKeepAlive after the last request, and superseded plannings plus
    // stream stop() still release
    val docs = corpus(200)
    val pitClosedIds = new ConcurrentLinkedQueue[String]()
    val server = startStub(docs, StubModes(pitMode = true),
      StubCounters(pitClosedIds = pitClosedIds))
    try {
      val ds = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").option("pitReleaseAtQueryEnd", "false")
        .load().select(col("id"))
      assert(ds.collect().length === 200)
      // give an (erroneously) armed hook ample time to fire on the bus —
      // then the cached physical plan must still drain its live PIT
      Thread.sleep(500)
      assert(ds.collect().length === 200,
        "the second action re-executes the cached plan against the still-open PIT")
      assert(pitClosedIds.isEmpty, "no query-end DELETE was ever issued")
    } finally server.stop(0)
  }

  test("pitReleaseAtQueryEnd=false disables ONLY the query-end hook — a stopped tail still releases") {
    // the option must not widen into a leak: superseded micro-batch
    // plannings and stream stop() are separate release paths, and a
    // stopped sliced tail must leave ZERO server search contexts behind
    // whatever the query-end posture
    val docs = corpus(240)
    val pitOpened = new java.util.concurrent.atomic.AtomicLong
    val pitClosedIds = new ConcurrentLinkedQueue[String]()
    val server = startStub(docs, StubModes(pitMode = true),
      StubCounters(pitOpened = pitOpened, pitClosedIds = pitClosedIds))
    try {
      val q = spark.readStream.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").option("pitReleaseAtQueryEnd", "false").load()
        .select(col("id"))
        .writeStream.format("memory").queryName("sliced_tail_noqe").start()
      try q.processAllAvailable() finally q.stop()
      val ids = spark.sql("SELECT id FROM sliced_tail_noqe").collect().map(_.getString(0))
      assert(ids.length === 240 && ids.toSet.size === 240, "exactly-once unchanged")
      import scala.jdk.CollectionConverters._
      val deadline = System.currentTimeMillis() + 20000
      while (pitClosedIds.asScala.toSet.size.toLong < pitOpened.get() &&
        System.currentTimeMillis() < deadline) Thread.sleep(25)
      assert(pitClosedIds.asScala.toSet.size.toLong === pitOpened.get(),
        s"stop() must still release every PIT under the keep-alive-only option: " +
          s"opened ${pitOpened.get()}, closed ${pitClosedIds.asScala.toSet.size}")
    } finally server.stop(0)
  }

  test("query-end release refuses a SUPERSEDED planning's completion (advice r17 interleaving)") {
    // two actions on one scan can interleave so that action B re-plans
    // (new runtime key / window) and opens a fresh PIT while action A's
    // completion listener fires: the tracked pits then belong to B's
    // planning, whose query has NOT ended — sweeping them would fail B's
    // tasks `search_context_missing` mid-drain. The drain therefore
    // checks WHAT the completed query executed against the CURRENT
    // planning under ONE monitor acquisition; this drives that guard
    // deterministically (the bus interleaving itself is a race by
    // definition).
    val docs = corpus(200)
    val pitOpened = new java.util.concurrent.atomic.AtomicLong
    val pitClosedIds = new ConcurrentLinkedQueue[String]()
    val server = startStub(docs, StubModes(pitMode = true),
      StubCounters(pitOpened = pitOpened, pitClosedIds = pitClosedIds))
    try {
      val props = new java.util.HashMap[String, String]()
      props.put("url", url(server))
      props.put("batchSize", "64")
      props.put("slices", "4")
      val scan = new graft.sources.StatusLiveSource()
        .getTable(graft.sources.StatusV2Source.Schema, Array.empty, props)
        .asInstanceOf[graft.sources.StatusLiveTable]
        .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          new java.util.HashMap[String, String]()))
        .build().asInstanceOf[graft.sources.StatusLiveScan]
      val parts1 = scan.planInputPartitions()
      assert(pitOpened.get() === 1L, "one shared PIT per planning pass")
      // a completion whose executed partitions are NOT the current
      // planning must be refused: nothing drains, the hook stays armed
      assert(!graft.sources.TestHooks.releaseAtQueryEnd(scan, Some(parts1.toSeq.tail)),
        "a stale/foreign planning's completion must not sweep the live snapshot")
      assert(pitClosedIds.isEmpty, "the current planning's PIT survived the stale fire")
      // the owning planning's completion drains as before
      assert(graft.sources.TestHooks.releaseAtQueryEnd(scan, Some(parts1.toSeq)),
        "the current planning's completion drains")
      import scala.jdk.CollectionConverters._
      var deadline = System.currentTimeMillis() + 20000
      while (pitClosedIds.asScala.toSet.size < 1 &&
        System.currentTimeMillis() < deadline) Thread.sleep(25)
      assert(pitClosedIds.asScala.toSet.size.toLong === pitOpened.get(),
        "the owning completion released the snapshot")
      // after the drain the plan cache is invalid: the next planning
      // opens a FRESH snapshot; the OLD partitions are refused again and
      // an unlocatable executed plan (None) falls back to the full drain
      val parts2 = scan.planInputPartitions()
      assert(pitOpened.get() === 2L, "post-drain planning opened a fresh PIT")
      assert(!(parts2.head eq parts1.head), "a re-plan builds fresh partition instances")
      assert(!graft.sources.TestHooks.releaseAtQueryEnd(scan, Some(parts1.toSeq)),
        "the superseded planning keeps being refused")
      assert(graft.sources.TestHooks.releaseAtQueryEnd(scan, None),
        "an unlocatable executed plan falls back to the unguarded drain")
      deadline = System.currentTimeMillis() + 20000
      while (pitClosedIds.asScala.toSet.size.toLong < pitOpened.get() &&
        System.currentTimeMillis() < deadline) Thread.sleep(25)
      assert(pitClosedIds.asScala.toSet.size.toLong === pitOpened.get(),
        "every issued PIT released by the end")
    } finally server.stop(0)
  }

  test("subject fan-out and DESC top-K keep their own plans (slices never apply)") {
    val docs = corpus(200)
    val server = startStub(docs, StubModes(pitMode = true))
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("slices", "4").load()
      val subjects = (0 until 10).map(i => s"s$i")
      val bySubject = live.where(col("subject").isin(subjects: _*))
      // one group per subject up to the cap of two per core; never 4 slices
      assert(bySubject.rdd.getNumPartitions ===
        math.min(subjects.size, 2 * spark.sparkContext.defaultParallelism),
        "per-subject groups, not slices")
      assert(bySubject.count() === docs.count(d => subjects.contains(d.subject)).toLong)
      // DESC top-K: the sequential loop's newest-first early stop reads K
      // docs; a sliced plan would read the whole index for K rows
      val topK = live.orderBy(col("time").desc).limit(5)
      assert(topK.rdd.getNumPartitions === 1, "top-K keeps the single early-stopping loop")
      val times = topK.collect().map(_.getAs[java.sql.Timestamp]("time").getTime)
      assert(times.toSeq === docs.map(_.timeUs / 1000).sorted.reverse.take(5).toSeq)
    } finally server.stop(0)
  }
}
