package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._

import graft.queries.LiveQueries.{startStub, StubCounters, StubModes}
import graft.sources.{StatusLivePartition, StatusLiveScan, StatusLiveSource, StatusV2Source}

/** Fleet-scale transport for the live sync's per-token state: the subject
  * census and the watermark map ride as PLANNER-READ FILES
  * (`subjectsPath` / `stopBySubjectPath`) instead of a pushed IN-set
  * expression and a JSON option string — at a million tokens the option
  * string alone is ~30 MB through catalog properties, copied with every
  * plan transform. Each task still receives ONLY its own group's slice
  * (the partition case class carries it), so no O(fleet) state crosses
  * the driver→task boundary either.
  */
class StatusLiveFleetSpec extends SparkTestBase {

  test("100k tokens plan into bounded task groups with per-group slices — no O(fleet) option string") {
    val n = 100000
    val subjects = (0 until n).map(i => f"veh$i%06d")
    val stops: Map[String, Long] =
      subjects.map(s => s -> (1704000000000L + (s.hashCode & 0xffff).toLong)).toMap
    val subjFile = Files.createTempFile("graft-subjects", ".txt").toString
    val stopsFile = Files.createTempFile("graft-stops", ".json").toString
    StatusLiveSource.writeSubjects(subjects, subjFile)
    StatusLiveSource.writeStops(stops, stopsFile)
    // the OPTION payloads are the two paths — O(1), not O(fleet)
    assert(subjFile.length < 256 && stopsFile.length < 256)

    // through the real table-resolution path: getTable consumes the
    // staged files EAGERLY (so the caller may delete them after load);
    // planning is pure (no HTTP): the census fans into 2 × defaultParallelism
    // bounded groups
    val props = new java.util.HashMap[String, String]()
    props.put("url", "http://127.0.0.1:9")
    props.put("subjectsPath", subjFile)
    props.put("stopBySubjectPath", stopsFile)
    val table = new graft.sources.StatusLiveSource()
      .getTable(StatusV2Source.Schema, Array.empty, props)
    val scan = table.asInstanceOf[graft.sources.StatusLiveTable]
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        new java.util.HashMap[String, String]()))
      .build().asInstanceOf[StatusLiveScan]
    // the files are consumed: delete them BEFORE planning to prove it
    java.nio.file.Files.delete(java.nio.file.Paths.get(subjFile))
    java.nio.file.Files.delete(java.nio.file.Paths.get(stopsFile))
    val parts = scan.planInputPartitions().map(_.asInstanceOf[StatusLivePartition])
    assert(parts.length === 2 * spark.sparkContext.defaultParallelism,
      "the bounded task census: two groups per core")
    assert(parts.map(_.subjects.get.length).sum === n, "every token exactly once")
    parts.foreach { p =>
      val g = p.subjects.get.toSet
      assert(p.stopBySubject.keySet === g,
        "each task ships exactly ITS subjects' stop overrides")
      p.stopBySubject.foreach { case (k, v) => assert(v === stops(k)) }
    }
    // round-trip fidelity of the streamed file formats
    val backStops = parts.iterator.flatMap(_.stopBySubject).toMap
    assert(backStops === stops)
  }

  test("path options drive the live read end-to-end (census scopes; per-subject stops apply)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def doc(id: String, subj: String, ms: Long): String =
      s"""{"id":"$id","subject":"$subj","source":"x","specversion":"1.0",""" +
        s""""time":"${java.time.Instant.ofEpochMilli(ms)}",""" +
        s""""dataschema":"dimo.zone.status/v2.0","type":"c","data":{}}"""
    val t0 = 1704000000000L
    val docs = Seq(
      ("a1", "sA", t0), ("a2", "sA", t0 + 60000),
      ("b1", "sB", t0), ("b2", "sB", t0 + 60000),
      ("c1", "sC", t0)) // sC is OUTSIDE the census: must never be fetched
    val corpus = docs.map { case (id, s, ms) =>
      graft.queries.LiveQueries.StubDoc(id, s, ms * 1000L, doc(id, s, ms))
    }.toIndexedSeq
    val server = startStub(corpus)
    try {
      val subjFile = Files.createTempFile("graft-subjects", ".txt").toString
      val stopsFile = Files.createTempFile("graft-stops", ".json").toString
      StatusLiveSource.writeSubjects(Seq("sA", "sB"), subjFile)
      // sA stops BEFORE its second doc (exclusive watermark); sB is open
      StatusLiveSource.writeStops(Map("sA" -> (t0 + 60000)), stopsFile)
      val got = spark.read.format("graft-status-live")
        .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
        .option("subjectsPath", subjFile)
        .option("stopBySubjectPath", stopsFile)
        .load()
        .select("id").collect().map(_.getString(0)).toSet
      assert(got === Set("a1", "b1", "b2"),
        s"census scopes the read; sA's watermark stops its loop early: $got")
    } finally server.stop(0)
  }

  test("a runtime subject filter (DPP) intersects the staged census — fleet scan, join-scoped loops") {
    // 10k-token census via the side-channel file; a broadcast join then
    // hands the scan a 3-subject runtime set (2 inside the census, 1
    // outside): the planned page loops must be exactly the intersection —
    // at fleet scale the runtime filter turns a 10k-loop scan into point
    // lookups, and a runtime key OUTSIDE the census must not widen it
    val n = 10000
    val census = (0 until n).map(i => f"veh$i%05d")
    val subjFile = Files.createTempFile("graft-subjects", ".txt").toString
    StatusLiveSource.writeSubjects(census, subjFile)
    val props = new java.util.HashMap[String, String]()
    props.put("url", "http://127.0.0.1:9")
    props.put("subjectsPath", subjFile)
    val scan = new graft.sources.StatusLiveSource()
      .getTable(StatusV2Source.Schema, Array.empty, props)
      .asInstanceOf[graft.sources.StatusLiveTable]
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        new java.util.HashMap[String, String]()))
      .build().asInstanceOf[StatusLiveScan]
    java.nio.file.Files.delete(java.nio.file.Paths.get(subjFile))
    import org.apache.spark.sql.sources.{Filter => SFilter, In => SIn}
    scan.filter(Array[SFilter](SIn("subject",
      Array[Any]("veh00007", "veh04242", "nope"))))
    val parts = scan.planInputPartitions().map(_.asInstanceOf[StatusLivePartition])
    assert(parts.flatMap(_.subjects.get).sorted.toSeq === Seq("veh00007", "veh04242"),
      "planned loops must be census ∩ runtime set, nothing more")
    // an oversized runtime set is advisory: the census fan-out stands
    val scan2 = new graft.sources.StatusLiveSource()
      .getTable(StatusV2Source.Schema, Array.empty, {
        val p = new java.util.HashMap[String, String]()
        p.put("url", "http://127.0.0.1:9"); p
      })
      .asInstanceOf[graft.sources.StatusLiveTable]
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        new java.util.HashMap[String, String]()))
      .build().asInstanceOf[StatusLiveScan]
    scan2.filter(Array[SFilter](SIn("subject",
      (0 to graft.sources.ShardedSignalSource.MaxRuntimeInSet)
        .map(i => f"veh$i%05d": Any).toArray)))
    val parts2 = scan2.planInputPartitions().map(_.asInstanceOf[StatusLivePartition])
    assert(parts2.length === 1 && parts2(0).subjects.isEmpty,
      "an oversized runtime set must be ignored (unfiltered single loop), never wrong")
  }

  test("readStops parses the staged subject<TAB>ms lines") {
    // the cluster-written form: runLive path mode stages subject<TAB>ms
    // lines via a single-partition write.text
    val want = Map("vehA" -> 1704000000000L, "vehB" -> 1704000060000L)
    val tsv = Files.createTempFile("graft-stops-tsv", ".txt")
    Files.writeString(tsv, "vehA\t1704000000000\nvehB\t1704000060000\n")
    assert(StatusLiveSource.readStops(tsv.toString) === want)
    // a tab inside the subject: only the LAST tab splits (subjects may
    // not contain tabs in practice, but the parse must not mis-split)
    val odd = Files.createTempFile("graft-stops-odd", ".txt")
    Files.writeString(odd, "veh\tX\t42\n")
    assert(StatusLiveSource.readStops(odd.toString) === Map("veh\tX" -> 42L))
    Seq(tsv, odd).foreach(Files.deleteIfExists(_))
  }

  test("writeStops stages the same lines, in UTF-8 byte order, framing guarded") {
    // U+E000 sorts below a non-BMP subject in UTF-16 but above it in
    // UTF-8 bytes: the file must follow the bytes, as the planner checks
    val want = Map("veh\uE000" -> 2L, "veh\uD83D\uDE97" -> 3L, "vehA" -> 1L)
    val f = Files.createTempFile("graft-stops-write", ".txt")
    StatusLiveSource.writeStops(want, f.toString)
    assert(Files.readString(f) === "vehA\t1\nveh\uE000\t2\nveh\uD83D\uDE97\t3\n")
    assert(StatusLiveSource.readStops(f.toString) === want)
    val e = intercept[IllegalArgumentException](
      StatusLiveSource.writeStops(Map("bad\nsubject" -> 1L), f.toString))
    assert(e.getMessage.contains("newline framing contract"))
    Files.deleteIfExists(f)
  }

  test("runLiveRanged: caller-owned staging, ranged groups, whale slices, watermark resume") {
    // the MEGA-FLEET job entry: censusRanges + hotSubjectsPath driven
    // from the job layer — staged files land in a CALLER-OWNED dir (they
    // must outlive the action: tasks read them), the whale rides sliced
    // drains, and round 2 still resumes below the sink's watermarks
    val t0 = 1704000000000L
    def doc(id: String, subj: String, ms: Long, speed: Long): String =
      s"""{"id":"$id","subject":"$subj","source":"dimo/integration/live","specversion":"1.0",""" +
        s""""time":"${java.time.Instant.ofEpochMilli(ms)}",""" +
        s""""dataschema":"dimo.zone.status/v1.0","type":"c","data":{"speed":$speed,"make":"m"}}"""
    val tokens = Seq("1", "2", "3")
    // token 1 is the whale: 40 newer docs; tokens 2-3 get one each
    val newer = (0 until 40).map(i => graft.queries.LiveQueries.StubDoc(
      f"n1-$i%02d", "1", (t0 + 60000 + i) * 1000L, doc(s"n1-$i", "1", t0 + 60000 + i, 20))) ++
      Seq("2", "3").map(s => graft.queries.LiveQueries.StubDoc(
        s"n$s", s, (t0 + 60000) * 1000L, doc(s"n$s", s, t0 + 60000, 20)))
    val older = tokens.map(s => graft.queries.LiveQueries.StubDoc(
      s"o$s", s, t0 * 1000L, doc(s"o$s", s, t0, 10)))
    val opts = graft.jobs.SyncOptions(tokens = tokens,
      start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    val dim = graft.sources.DeviceDim.identityDim(spark, Seq(1L, 2L, 3L))
    val staging = Files.createTempDirectory("graft-ranged-staging")
    try {
      val sliceSeen = new ConcurrentLinkedQueue[Int]()
      val slicedSubjects = new ConcurrentLinkedQueue[String]()
      val s1 = startStub(newer.toIndexedSeq, StubModes(pitMode = true),
        StubCounters(sliceSeen = sliceSeen, slicedSubjects = slicedSubjects))
      val sink1 = try {
        graft.jobs.SyncJob.runLiveRanged(spark,
          s"http://127.0.0.1:${s1.getAddress.getPort}", dim, None, opts,
          stagingDir = staging.toString, censusRanges = 2, slices = 2,
          hotSubjects = Seq("1")).localCheckpoint(true)
      } finally s1.stop(0)
      assert(sink1.count() === (40 + 2) * 2, "2 signals per doc, newer docs only")
      import scala.jdk.CollectionConverters._
      assert(slicedSubjects.asScala.toSet === Set("1"), "the whale rode the sliced drain")
      assert(sliceSeen.asScala.toSet === Set(0, 1), "both slices requested")
      // the staged files are the CALLER's to clear — still on disk here
      assert(Files.list(staging).iterator().asScala.nonEmpty,
        "runLiveRanged must not delete caller-owned staging")
      // round 2 over everything resumes below the per-token watermarks
      val s2 = startStub((newer ++ older).toIndexedSeq, StubModes(pitMode = true))
      val round2 = try {
        graft.jobs.SyncJob.runLiveRanged(spark,
          s"http://127.0.0.1:${s2.getAddress.getPort}", dim, Some(sink1), opts,
          stagingDir = staging.toString, censusRanges = 2, slices = 2,
          hotSubjects = Seq("1")).localCheckpoint(true)
      } finally s2.stop(0)
      assert(round2.count() === 3 * 2, "only the older backfill crosses the watermarks")
      assert(round2.select(max(col("timestamp"))).head().getTimestamp(0).getTime === t0,
        "everything fetched in round 2 must be strictly below the watermarks")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(staging).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  test("runLiveRanged hotMinRows: round 2 discovers the whale from round 1's sink, unnamed") {
    // whale handling as the mega-fleet DEFAULT: with hotMinRows set, a
    // sync with a sink feeds hotSubjectsFromSink's depth census into the
    // hot-list automatically — the operator never names the whale round
    // 1's own output already revealed. Round 1 (no sink) has nothing to
    // probe and plans plain tiles; the explicit hotSubjects list still
    // unions in when given.
    val t0 = 1704000000000L
    def doc(id: String, subj: String, ms: Long, speed: Long): String =
      s"""{"id":"$id","subject":"$subj","source":"dimo/integration/live","specversion":"1.0",""" +
        s""""time":"${java.time.Instant.ofEpochMilli(ms)}",""" +
        s""""dataschema":"dimo.zone.status/v1.0","type":"c","data":{"speed":$speed,"make":"m"}}"""
    val tokens = Seq("1", "2", "3")
    // token 1 is the whale: 40 newer docs (80 sink rows); tokens 2-3 get
    // one each (2 rows — below the bar)
    val newer = (0 until 40).map(i => graft.queries.LiveQueries.StubDoc(
      f"n1-$i%02d", "1", (t0 + 60000 + i) * 1000L, doc(s"n1-$i", "1", t0 + 60000 + i, 20))) ++
      Seq("2", "3").map(s => graft.queries.LiveQueries.StubDoc(
        s"n$s", s, (t0 + 60000) * 1000L, doc(s"n$s", s, t0 + 60000, 20)))
    val older = tokens.map(s => graft.queries.LiveQueries.StubDoc(
      s"o$s", s, t0 * 1000L, doc(s"o$s", s, t0, 10)))
    val opts = graft.jobs.SyncOptions(tokens = tokens,
      start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    val dim = graft.sources.DeviceDim.identityDim(spark, Seq(1L, 2L, 3L))
    val staging = Files.createTempDirectory("graft-hotmin-staging")
    try {
      val sliced1 = new ConcurrentLinkedQueue[String]()
      val s1 = startStub(newer.toIndexedSeq, StubModes(pitMode = true),
        StubCounters(slicedSubjects = sliced1))
      val sink1 = try {
        graft.jobs.SyncJob.runLiveRanged(spark,
          s"http://127.0.0.1:${s1.getAddress.getPort}", dim, None, opts,
          stagingDir = staging.toString, censusRanges = 2, slices = 2,
          hotMinRows = 10L).localCheckpoint(true)
      } finally s1.stop(0)
      assert(sink1.count() === (40 + 2) * 2, "round 1 ships everything")
      import scala.jdk.CollectionConverters._
      assert(sliced1.isEmpty, "no sink yet: nothing to discover, plain ranged tiles")
      val sliced2 = new ConcurrentLinkedQueue[String]()
      val s2 = startStub((newer ++ older).toIndexedSeq,
        StubModes(pitMode = true), StubCounters(slicedSubjects = sliced2))
      val round2 = try {
        graft.jobs.SyncJob.runLiveRanged(spark,
          s"http://127.0.0.1:${s2.getAddress.getPort}", dim, Some(sink1), opts,
          stagingDir = staging.toString, censusRanges = 2, slices = 2,
          hotMinRows = 10L).localCheckpoint(true)
      } finally s2.stop(0)
      assert(sliced2.asScala.toSet === Set("1"),
        "round 2 must discover token 1's depth from the sink and fan it — unnamed")
      assert(round2.count() === 3 * 2, "watermark resume is unchanged by discovery")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(staging).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  test("runLiveRanged weightBySinkDepth: round 2 stages sink depths as the planner's weights file") {
    // the load-balance analog of hotMinRows: each token's synced depth
    // stages as subject<TAB>rows (cluster-written, sorted) and rides
    // censusWeightsPath — boundaries at equal cumulative weight. The
    // sync's rows are unchanged (weights move boundaries, never rows);
    // this pins the staging contract and the exactly-once resume
    val t0 = 1704000000000L
    def doc(id: String, subj: String, ms: Long, speed: Long): String =
      s"""{"id":"$id","subject":"$subj","source":"dimo/integration/live","specversion":"1.0",""" +
        s""""time":"${java.time.Instant.ofEpochMilli(ms)}",""" +
        s""""dataschema":"dimo.zone.status/v1.0","type":"c","data":{"speed":$speed,"make":"m"}}"""
    val tokens = Seq("1", "2", "3")
    val newer = ((0 until 12).map(i => graft.queries.LiveQueries.StubDoc(
      f"n1-$i%02d", "1", (t0 + 60000 + i) * 1000L, doc(s"n1-$i", "1", t0 + 60000 + i, 20))) ++
      Seq("2", "3").map(s => graft.queries.LiveQueries.StubDoc(
        s"n$s", s, (t0 + 60000) * 1000L, doc(s"n$s", s, t0 + 60000, 20)))).toIndexedSeq
    val older = tokens.map(s => graft.queries.LiveQueries.StubDoc(
      s"o$s", s, t0 * 1000L, doc(s"o$s", s, t0, 10)))
    val opts = graft.jobs.SyncOptions(tokens = tokens,
      start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    val dim = graft.sources.DeviceDim.identityDim(spark, Seq(1L, 2L, 3L))
    val staging = Files.createTempDirectory("graft-weighted-staging")
    try {
      val s1 = startStub(newer, StubModes(pitMode = true))
      val sink1 = try {
        graft.jobs.SyncJob.runLiveRanged(spark,
          s"http://127.0.0.1:${s1.getAddress.getPort}", dim, None, opts,
          stagingDir = staging.toString, censusRanges = 2,
          weightBySinkDepth = true).localCheckpoint(true)
      } finally s1.stop(0)
      assert(sink1.count() === (12 + 2) * 2)
      assert(!Files.isDirectory(staging.resolve("weights")),
        "round 1 has no sink — nothing to weigh")
      val s2 = startStub(newer ++ older, StubModes(pitMode = true))
      val round2 = try {
        graft.jobs.SyncJob.runLiveRanged(spark,
          s"http://127.0.0.1:${s2.getAddress.getPort}", dim, Some(sink1), opts,
          stagingDir = staging.toString, censusRanges = 2,
          weightBySinkDepth = true).localCheckpoint(true)
      } finally s2.stop(0)
      assert(round2.count() === 3 * 2, "weights move boundaries, never rows")
      // the staged weights file IS the sink's depth census: one
      // subject<TAB>rows line per synced token, subject-sorted
      import scala.jdk.CollectionConverters._
      val wFile = Files.list(staging.resolve("weights")).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      val lines = Files.readAllLines(wFile).asScala.filter(_.nonEmpty)
      assert(lines.toSeq === Seq("1\t24", "2\t2", "3\t2"),
        s"weights must be round 1's per-token sink depths, sorted: $lines")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(staging).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  test("a dim mapping two tokens to ONE subject stages single stops/weights lines (max watermark, summed depth)") {
    // alias / re-registration shape: tokens 1 and 2 are the same physical
    // subject "sX"; token 3 owns "sY". The staged stops/weights files are
    // keyed BY SUBJECT, so the cluster staging must re-aggregate after
    // the dim join — per-token lines would duplicate the subject and fail
    // the ranged planner's strict-sorted require (advice r17). The
    // backfill fetches `time < watermark` (oldest synced signal), so the
    // subject's wire stop is the MAX over its tokens — the union of both
    // windows; run()'s per-token watermark join clips the overlap
    // exactly. Weights SUM (the subject's total sink depth).
    val t0 = 1704000000000L
    def doc(id: String, subj: String, ms: Long, speed: Long): String =
      s"""{"id":"$id","subject":"$subj","source":"dimo/integration/live","specversion":"1.0",""" +
        s""""time":"${java.time.Instant.ofEpochMilli(ms)}",""" +
        s""""dataschema":"dimo.zone.status/v1.0","type":"c","data":{"speed":$speed,"make":"m"}}"""
    // wire corpus: sX at t0 (old) and t0+61.5s (between the two tokens'
    // watermarks — the max-vs-min discriminator); sY at t0
    val corpus = IndexedSeq(
      graft.queries.LiveQueries.StubDoc("oX", "sX", t0 * 1000L, doc("oX", "sX", t0, 10)),
      graft.queries.LiveQueries.StubDoc("mX", "sX", (t0 + 61500) * 1000L,
        doc("mX", "sX", t0 + 61500, 15)),
      graft.queries.LiveQueries.StubDoc("oY", "sY", t0 * 1000L, doc("oY", "sY", t0, 10)))
    val dim = graft.sources.DeviceDim.fromPairs(spark,
      Seq((1L, "sX"), (2L, "sX"), (3L, "sY")))
    // fabricated round-1 sink: token 1 resumed down to t0+62s, token 2
    // only to t0+61s, token 3 to t0+61s — DIFFERENT watermarks on one
    // subject, so the aggregate choice is observable
    val sink1 = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, new java.sql.Timestamp(t0 + 62000), "speed"),
        org.apache.spark.sql.Row(2L, new java.sql.Timestamp(t0 + 61000), "speed"),
        org.apache.spark.sql.Row(3L, new java.sql.Timestamp(t0 + 61000), "speed")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tokenId",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("timestamp",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType))))
    val opts = graft.jobs.SyncOptions(tokens = Seq("1", "2", "3"),
      start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    val staging = Files.createTempDirectory("graft-alias-staging")
    try {
      val server = startStub(corpus, StubModes(pitMode = true))
      val out = try {
        graft.jobs.SyncJob.runLiveRanged(spark,
          s"http://127.0.0.1:${server.getAddress.getPort}", dim, Some(sink1), opts,
          stagingDir = staging.toString, censusRanges = 2,
          weightBySinkDepth = true).localCheckpoint(true)
      } finally server.stop(0)
      import scala.jdk.CollectionConverters._
      def stagedLines(name: String): Seq[String] = {
        val f = Files.list(staging.resolve(name)).iterator().asScala
          .find(_.getFileName.toString.startsWith("part-")).get
        Files.readAllLines(f).asScala.filter(_.nonEmpty).toSeq
      }
      assert(stagedLines("stops") === Seq(s"sX\t${t0 + 62000}", s"sY\t${t0 + 61000}"),
        "ONE stop line per subject, at the MAX (union) watermark")
      assert(stagedLines("weights") === Seq("sX\t2", "sY\t1"),
        "ONE weight line per subject, depths summed across its tokens")
      // exact per-token clipping: token 1 keeps oX+mX (wm 62s), token 2
      // keeps only oX (mX at 61.5s is at/after its 61s watermark),
      // token 3 keeps oY — 2 signals per doc
      val perToken = out.groupBy(col("tokenId")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perToken === Map(1L -> 4L, 2L -> 2L, 3L -> 2L),
        s"max-stop overlap must be clipped per token, never undershipped: $perToken")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(staging).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  test("a never-synced alias token fetches the FULL window — its subject stages NO stop line") {
    // the r18 reflection bug: tokens 1 (synced) and 2 (never synced)
    // share subject sX. A stop derived from token 1's watermark alone
    // would clip the WIRE at it — and token 2, whose correct window is
    // everything, silently loses every doc at/after the sibling's
    // watermark (rows nothing downstream can recover). The staging must
    // withhold a subject's stop line unless EVERY token has a
    // watermark; the overlap token 1 re-receives is clipped exactly by
    // run()'s per-token join.
    val t0 = 1704000000000L
    def doc(id: String, subj: String, ms: Long, speed: Long): String =
      s"""{"id":"$id","subject":"$subj","source":"dimo/integration/live","specversion":"1.0",""" +
        s""""time":"${java.time.Instant.ofEpochMilli(ms)}",""" +
        s""""dataschema":"dimo.zone.status/v1.0","type":"c","data":{"speed":$speed,"make":"m"}}"""
    // sX: one doc below the synced sibling's watermark, one ABOVE it —
    // the above-doc is exactly what a wrongly-staged stop would drop
    val corpus = IndexedSeq(
      graft.queries.LiveQueries.StubDoc("oX", "sX", t0 * 1000L, doc("oX", "sX", t0, 10)),
      graft.queries.LiveQueries.StubDoc("nX", "sX", (t0 + 120000) * 1000L,
        doc("nX", "sX", t0 + 120000, 20)),
      graft.queries.LiveQueries.StubDoc("oY", "sY", t0 * 1000L, doc("oY", "sY", t0, 10)),
      graft.queries.LiveQueries.StubDoc("nY", "sY", (t0 + 120000) * 1000L,
        doc("nY", "sY", t0 + 120000, 20)))
    val dim = graft.sources.DeviceDim.fromPairs(spark,
      Seq((1L, "sX"), (2L, "sX"), (3L, "sY")))
    // sink rows for tokens 1 and 3 only (watermark t0+61s); token 2 has
    // NO sink presence
    val sink1 = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, new java.sql.Timestamp(t0 + 61000), "speed"),
      org.apache.spark.sql.Row(3L, new java.sql.Timestamp(t0 + 61000), "speed")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tokenId",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("timestamp",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType))))
    val opts = graft.jobs.SyncOptions(tokens = Seq("1", "2", "3"),
      start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    def perToken(out: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      out.groupBy(col("tokenId")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // token 1 (wm 61s): oX only; token 2 (no wm): BOTH sX docs;
    // token 3: oY only — 2 signals per doc
    val want = Map(1L -> 2L, 2L -> 4L, 3L -> 2L)
    val staging = Files.createTempDirectory("graft-sinkless-staging")
    try {
      val s1 = startStub(corpus, StubModes(pitMode = true))
      val ranged = try {
        graft.jobs.SyncJob.runLiveRanged(spark,
          s"http://127.0.0.1:${s1.getAddress.getPort}", dim, Some(sink1), opts,
          stagingDir = staging.toString, censusRanges = 2).localCheckpoint(true)
      } finally s1.stop(0)
      import scala.jdk.CollectionConverters._
      val stopsFile = Files.list(staging.resolve("stops")).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      assert(Files.readAllLines(stopsFile).asScala.filter(_.nonEmpty).toSeq ===
        Seq(s"sY\t${t0 + 61000}"),
        "sX has a sinkless token: its stop line must be WITHHELD")
      assert(perToken(ranged) === want,
        s"the sinkless alias must receive the full window: ${perToken(ranged)}")
      // the small-fleet entry (runLive, inline-stops branch) must agree
      val s2 = startStub(corpus, StubModes(pitMode = true))
      val small = try {
        graft.jobs.SyncJob.runLive(spark,
          s"http://127.0.0.1:${s2.getAddress.getPort}", dim, Some(sink1), opts)
          .localCheckpoint(true)
      } finally s2.stop(0)
      assert(perToken(small) === want,
        s"runLive's inline stops must withhold sX identically: ${perToken(small)}")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(staging).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  test("property: random alias fleets with PARTIAL sinks sync exactly (seeded, 12 trials)") {
    // the alias staging's whole state space at once: random token→subject
    // maps (1 subject per token up to all tokens on one subject), random
    // per-token watermarks with random SINKLESS tokens, random group
    // counts, weights coin-flipped. The model is per-token set algebra:
    // a synced token keeps its subject's docs strictly below ITS
    // watermark, a sinkless token keeps them all — whatever its siblings
    // synced. Any staging aggregation mistake (duplicate subject line,
    // MIN/arbitrary instead of MAX, a stop leaking onto a sinkless
    // token's subject) breaks a trial.
    val t0 = 1704000000000L
    def doc(id: String, subj: String, ms: Long): String =
      s"""{"id":"$id","subject":"$subj","source":"dimo/integration/live","specversion":"1.0",""" +
        s""""time":"${java.time.Instant.ofEpochMilli(ms)}",""" +
        s""""dataschema":"dimo.zone.status/v1.0","type":"c","data":{"speed":7,"make":"m"}}"""
    val rnd = new scala.util.Random(20260817L)
    for (trial <- 0 until 12) {
      val nTokens = 2 + rnd.nextInt(8)
      val nSubj = 1 + rnd.nextInt(nTokens)
      val tokens = (1 to nTokens).map(_.toLong)
      val subjOf: Map[Long, String] = tokens.map(t => t -> s"fs${rnd.nextInt(nSubj)}").toMap
      val docsBySubj: Map[String, Seq[Long]] = subjOf.values.toSeq.distinct.map { sub =>
        sub -> (0 until rnd.nextInt(5)).map(k => t0 + k * 1000L)
      }.toMap
      val corpus: IndexedSeq[graft.queries.LiveQueries.StubDoc] =
        docsBySubj.toIndexedSeq.sortBy(_._1).flatMap { case (sub, times) =>
          times.map(ms => graft.queries.LiveQueries.StubDoc(
            s"$sub-$ms", sub, ms * 1000L, doc(s"$sub-$ms", sub, ms)))
        }
      val wmOf: Map[Long, Long] = tokens.filter(_ => rnd.nextBoolean())
        .map(t => t -> (t0 + rnd.nextInt(6) * 1000L)).toMap
      val sinkRows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(wmOf.toSeq.map { case (t, ms) =>
          org.apache.spark.sql.Row(t, new java.sql.Timestamp(ms), "speed")
        }: _*)
      val sink = spark.createDataFrame(sinkRows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tokenId",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("timestamp",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType))))
      val dim = graft.sources.DeviceDim.fromPairs(spark, tokens.map(t => (t, subjOf(t))))
      val opts = graft.jobs.SyncOptions(tokens = tokens.map(_.toString),
        start = Some(new java.sql.Timestamp(0L)),
        stop = Some(new java.sql.Timestamp(9999999999999L)))
      val expected: Set[(Long, Long)] = tokens.flatMap { t =>
        val times = docsBySubj(subjOf(t))
        wmOf.get(t) match {
          case Some(wm) => times.filter(_ < wm).map(ms => t -> ms)
          case None     => times.map(ms => t -> ms)
        }
      }.toSet
      val staging = Files.createTempDirectory(s"graft-aliasfuzz-$trial")
      try {
        val server = startStub(corpus, StubModes(pitMode = true))
        val out = try {
          graft.jobs.SyncJob.runLiveRanged(spark,
            s"http://127.0.0.1:${server.getAddress.getPort}", dim, Some(sink), opts,
            stagingDir = staging.toString, censusRanges = 1 + rnd.nextInt(3),
            weightBySinkDepth = rnd.nextBoolean()).localCheckpoint(true)
        } finally server.stop(0)
        val got: Set[(Long, Long)] = out
          .select(col("tokenId"), expr("unix_micros(timestamp) DIV 1000").as("ms"))
          .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === expected,
          s"trial $trial (tokens=$nTokens subjects=$nSubj synced=${wmOf.keySet.toSeq.sorted} " +
            s"subjOf=$subjOf): missing=${expected -- got} extra=${got -- expected}")
      } finally {
        import scala.jdk.CollectionConverters._
        Files.walk(staging).iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists(_))
      }
    }
  }

  test("a newline-bearing subject fails LOUDLY at staging — never silent under-shipping") {
    // the staged files are newline-framed: a subject containing \n (or
    // \r — BufferedReader.readLine ends on both) would split into
    // phantom census lines whose terms match nothing, silently dropping
    // that subject's documents. The staging write itself must raise.
    val dim = graft.sources.DeviceDim.fromPairs(spark, Seq((1L, "veh\nA"), (2L, "ok")))
    val opts = graft.jobs.SyncOptions(tokens = Seq("1", "2"),
      start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    val staging = Files.createTempDirectory("graft-frame-staging")
    try {
      val e = intercept[Exception] {
        // the census stages (and fails) before any wire contact: the URL
        // never resolves and must never need to
        graft.jobs.SyncJob.runLiveRanged(spark, "http://127.0.0.1:9", dim, None, opts,
          stagingDir = staging.toString, censusRanges = 2)
      }
      def msgs(t: Throwable): String =
        if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
      assert(msgs(e).contains("framing contract"),
        s"staging a newline-bearing subject must raise the framing guard: ${msgs(e)}")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(staging).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
    // the driver-side writer enforces the same contract
    val p = Files.createTempFile("graft-frame", ".txt")
    val e2 = intercept[IllegalArgumentException](
      StatusLiveSource.writeSubjects(Seq("ok", "bad\rsubject"), p.toString))
    assert(e2.getMessage.contains("framing contract"))
    Files.deleteIfExists(p)
  }

  test("runLive with slices engages the hot-subject drain (whale parallel, cold loops intact)") {
    // the reference-shaped job entry can now name its parallelism: with
    // slices > 1 the scan's terms probe spots the whale and fans it —
    // sliced-PIT here; time-window cuts on a PIT-less server
    val t0 = 1704000000000L
    def doc(id: String, subj: String, ms: Long, speed: Long): String =
      s"""{"id":"$id","subject":"$subj","source":"dimo/integration/live","specversion":"1.0",""" +
        s""""time":"${java.time.Instant.ofEpochMilli(ms)}",""" +
        s""""dataschema":"dimo.zone.status/v1.0","type":"c","data":{"speed":$speed,"make":"m"}}"""
    val docs = ((0 until 40).map(i => graft.queries.LiveQueries.StubDoc(
      f"w1-$i%02d", "1", (t0 + i) * 1000L, doc(s"w1-$i", "1", t0 + i, 20))) ++
      Seq("2", "3").map(s => graft.queries.LiveQueries.StubDoc(
        s"c$s", s, t0 * 1000L, doc(s"c$s", s, t0, 10)))).toIndexedSeq
    val opts = graft.jobs.SyncOptions(tokens = Seq("1", "2", "3"),
      start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    val dim = graft.sources.DeviceDim.identityDim(spark, Seq(1L, 2L, 3L))
    val sliceSeen = new ConcurrentLinkedQueue[Int]()
    val slicedSubjects = new ConcurrentLinkedQueue[String]()
    val server = startStub(docs, StubModes(pitMode = true),
      StubCounters(sliceSeen = sliceSeen, slicedSubjects = slicedSubjects))
    try {
      val out = graft.jobs.SyncJob.runLive(spark,
        s"http://127.0.0.1:${server.getAddress.getPort}", dim, None, opts,
        batchSize = 8, slices = 2, hotSubjectPages = 2).localCheckpoint(true)
      assert(out.count() === 42 * 2, "2 signals per doc, whale + cold, exactly once")
      import scala.jdk.CollectionConverters._
      assert(slicedSubjects.asScala.toSet === Set("1"), "the whale rode the sliced drain")
      assert(sliceSeen.asScala.toSet === Set(0, 1), "both slices requested")
    } finally server.stop(0)
  }

  test("hotSubjectsFromSink: whales by synced depth, deepest first, capped, never the fleet") {
    // the discovery half of the hot-list story: one cluster-side count
    // over the sink, only rows past the threshold reach the driver
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sinkSchema = StructType(Seq(
      StructField("tokenId", LongType), StructField("timestamp", TimestampType),
      StructField("name", StringType)))
    val rows = (1L to 4L).flatMap { tok =>
      val n = tok match { case 1L => 500; case 2L => 80; case 3L => 70; case _ => 3 }
      (0 until n).map(i => Row(tok, new java.sql.Timestamp(1704000000000L + i), "s"))
    }
    val sink = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), sinkSchema)
    val dim = graft.sources.DeviceDim.identityDim(spark, Seq(1L, 2L, 3L, 4L))
    assert(graft.ops.SyncOps.hotSubjectsFromSink(sink, dim, minRows = 50) ===
      Seq("1", "2", "3"), "past the threshold, deepest first")
    assert(graft.ops.SyncOps.hotSubjectsFromSink(sink, dim, minRows = 50, maxSubjects = 1) ===
      Seq("1"), "the cap keeps a mis-tuned threshold from collecting the fleet")
    assert(graft.ops.SyncOps.hotSubjectsFromSink(sink, dim, minRows = 1000).isEmpty,
      "no whales past the bar: empty, and runLiveRanged plans plain tiles")
  }

  test("runLive above the threshold switches to path mode and still resumes below watermarks") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val t0 = 1704000000000L
    def doc(id: String, subj: String, ms: Long, cents: Long): String =
      s"""{"id":"$id","subject":"$subj","source":"dimo/integration/live","specversion":"1.0",""" +
        s""""time":"${java.time.Instant.ofEpochMilli(ms)}",""" +
        s""""dataschema":"dimo.zone.status/v1.0","type":"c","data":{"speed":$cents,"make":"m"}}"""
    val tokens = Seq("1", "2", "3")
    val older = tokens.map(s => graft.queries.LiveQueries.StubDoc(
      s"o$s", s, t0 * 1000L, doc(s"o$s", s, t0, 10)))
    val newer = tokens.map(s => graft.queries.LiveQueries.StubDoc(
      s"n$s", s, (t0 + 60000) * 1000L, doc(s"n$s", s, t0 + 60000, 20)))
    val opts = graft.jobs.SyncOptions(tokens = tokens,
      start = Some(new java.sql.Timestamp(0L)),
      stop = Some(new java.sql.Timestamp(9999999999999L)))
    val dim = graft.sources.DeviceDim.identityDim(spark, Seq(1L, 2L, 3L))
    // round 1 (newer only), then round 2 over everything: path mode
    // (threshold 0 forces it) must fetch ONLY the older backfill
    val s1 = startStub(newer.toIndexedSeq)
    val sink1 = try {
      graft.jobs.SyncJob.runLive(spark,
        s"http://127.0.0.1:${s1.getAddress.getPort}", dim, None, opts,
        pathModeThreshold = 0).localCheckpoint(true)
    } finally s1.stop(0)
    assert(sink1.count() === 3 * 2, "2 signals per doc, newer docs only")
    val s2 = startStub((newer ++ older).toIndexedSeq)
    val round2 = try {
      graft.jobs.SyncJob.runLive(spark,
        s"http://127.0.0.1:${s2.getAddress.getPort}", dim, Some(sink1), opts,
        pathModeThreshold = 0).localCheckpoint(true)
    } finally s2.stop(0)
    assert(round2.count() === 3 * 2, "path-mode watermarks: only the older backfill crosses")
    assert(round2.select(max(col("timestamp"))).head().getTimestamp(0).getTime === t0,
      "everything fetched in round 2 must be strictly below the watermarks")
  }
}
