package graft

import org.apache.spark.sql.functions._

import graft.queries.LiveQueries.{startStub, StubCounters, StubDoc, StubModes}
import graft.sources.{RangedCensus, StatusLiveRangedPartition, StatusLiveSource}

/** The O(groups) RANGED census plan (`censusRanges` option) — the
  * mega-fleet escape hatch: instead of materializing a per-token
  * census + watermark map on the driver at load() (~2.1 GB at 10M
  * tokens, LiveProbe §7), the planner streams the SORTED staged files
  * once and records one BYTE RANGE per group; each task reads its own
  * slice and drives the same per-subject page loops. Pins:
  *
  *   - the plan carries offsets, never subjects: G ranged partitions
  *     whose census ranges tile the file exactly, with the stops file
  *     merge-aligned so every subject's watermark lands in its group;
  *   - end-to-end equality with the materialized path: same rows,
  *     exactly once, per-subject watermarks applied on the wire;
  *   - a pushed subject constraint falls back to the materialized
  *     census (point lookups keep identical intersect semantics);
  *   - planCensusRanges unit contract: coverage, group count, stops
  *     alignment under missing/stray subjects.
  */
class StatusLiveRangedSpec extends SparkTestBase {

  private val BaseMs = 1704000000000L

  private def doc(subject: String, i: Int): StubDoc = {
    val ms = BaseMs + i * 1000L
    val iso = java.time.Instant.ofEpochMilli(ms)
    StubDoc(f"$subject-d$i%04d", subject, ms * 1000L,
      s"""{"id":"$subject-$i","subject":"$subject","source":"dimo/integration/live",""" +
        s""""specversion":"1.0","time":"$iso","dataschema":"dimo.zone.status/v2.0",""" +
        s""""type":"com.dimo.device.status","data":{"i":$i}}""")
  }

  private def stage(lines: Seq[String]): String = {
    val f = java.nio.file.Files.createTempFile("graft-ranged", ".txt")
    java.nio.file.Files.write(f,
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f.toString
  }

  private def url(s: com.sun.net.httpserver.HttpServer) =
    s"http://127.0.0.1:${s.getAddress.getPort}"

  test("censusRanges plans byte-range groups; tasks read their slices; watermarks apply") {
    // 10 subjects x 12 docs; EVEN subjects carry a watermark stopping
    // them at doc 6 (exclusive) — the wire must ship 12 docs for odd
    // subjects, 6 for even ones
    val docs: IndexedSeq[StubDoc] =
      (for (s <- 0 until 10; i <- 0 until 12) yield doc(f"a$s", i)).toIndexedSeq
    val census = (0 until 10).map(s => s"a$s")
    val stops = (0 until 10 by 2).map(s => s"a$s\t${BaseMs + 6000}")
    val cPath = stage(census)
    val sPath = stage(stops)
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = startStub(docs, counters = StubCounters(served = served))
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "50")
        .option("subjectsPath", cPath).option("stopBySubjectPath", sPath)
        .option("censusRanges", "4").load()
      assert(live.rdd.getNumPartitions === 4, "one task per byte-range group")
      val got = live.select(col("subject"), col("id")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      val expected = (for {
        s <- 0 until 10
        i <- 0 until (if (s % 2 == 0) 6 else 12)
      } yield (s"a$s", s"a$s-$i")).toSet
      assert(got.length === expected.size && got.toSet === expected,
        "exactly-once with per-subject watermarks applied")
      // the watermark reached the WIRE: each subject fits one page, so
      // the server must have shipped exactly the surviving rows
      assert(served.get() === expected.size.toLong,
        "stopped windows must not ship rows the plan then discards")
    } finally server.stop(0)
  }

  test("the ranged plan carries OFFSETS that tile the census exactly (no subject lists)") {
    val census = (0 until 17).map(s => f"b$s%02d")
    val stops = Seq("b03\t123", "b07\t456", "b15\t789")
    val cPath = stage(census)
    val sPath = stage(stops)
    val docs: IndexedSeq[StubDoc] = census.map(doc(_, 0)).toIndexedSeq
    val server = startStub(docs)
    try {
      val scan = new graft.sources.StatusLiveScan(url(server), "device-status", 50,
        0L, StatusLiveSource.DefaultStopMs, None, Map.empty,
        Array.empty, graft.sources.StatusV2Source.Schema,
        rangedCensus = Some(RangedCensus(cPath, Some(sPath), 5)))
      val parts = scan.planInputPartitions().toSeq
        .map(_.asInstanceOf[StatusLiveRangedPartition])
      assert(parts.length === 5)
      // census ranges tile the file: contiguous, gap-free, and reading
      // every slice back reconstructs the census exactly
      parts.sliding(2).foreach { case Seq(a, b) =>
        assert(a.censusEnd === b.censusStart, "census ranges must be contiguous")
      }
      val readBack = parts.flatMap(p =>
        StatusLiveSource.readRange(p.censusPath, p.censusStart, p.censusEnd))
      assert(readBack === census, "slices reconstruct the census in order")
      // stops align: every watermark is readable from ITS subject's group
      val bySubjectStops = parts.flatMap(p =>
        StatusLiveSource.readRange(sPath, p.stopsStart, p.stopsEnd).map { line =>
          val sub = line.takeWhile(_ != '\t')
          sub -> p
        }).toMap
      Seq("b03", "b07", "b15").foreach { s =>
        val p = bySubjectStops(s)
        val groupSubjects =
          StatusLiveSource.readRange(p.censusPath, p.censusStart, p.censusEnd)
        assert(groupSubjects.contains(s),
          s"watermark for $s must land in the group that owns $s")
      }
    } finally server.stop(0)
  }

  test("a pushed subject constraint falls back to the materialized census (identical semantics)") {
    val docs: IndexedSeq[StubDoc] =
      (for (s <- 0 until 6; i <- 0 until 8) yield doc(f"c$s", i)).toIndexedSeq
    val census = (0 until 6).map(s => s"c$s")
    val stops = Seq(s"c2\t${BaseMs + 4000}")
    val cPath = stage(census)
    val sPath = stage(stops)
    val server = startStub(docs)
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "50")
        .option("subjectsPath", cPath).option("stopBySubjectPath", sPath)
        .option("censusRanges", "4").load()
      // equality: census ∩ {c2} = {c2}; its watermark still applies
      val one = live.where(col("subject") === "c2")
      assert(one.rdd.getNumPartitions === 1, "a point lookup plans one group, not ranges")
      assert(one.select(col("id")).collect().map(_.getString(0)).sorted ===
        (0 until 4).map(i => s"c2-$i").toArray.sorted)
      // a subject OUTSIDE the census intersects to nothing
      assert(live.where(col("subject") === "zz").count() === 0L)
    } finally server.stop(0)
  }

  test("planCensusRanges unit contract: counts, coverage, stray/missing stops subjects") {
    val census = Seq("m1", "m3", "m5", "m7", "m9")
    // a stop BELOW the first census subject (stray — inert) and one past
    // the last group's subjects; m5's sits in the middle
    val stops = Seq("a0\t1", "m5\t2", "zz\t3")
    val cPath = stage(census)
    val sPath = stage(stops)
    val ranges = StatusLiveSource.planCensusRanges(cPath, Some(sPath), 2)
    assert(ranges.length === 2)
    val subjects = ranges.map(r => StatusLiveSource.readRange(cPath, r.cStart, r.cEnd))
    assert(subjects.flatten === census)
    // every stops line lands in exactly one range; lookups are by
    // subject so strays are inert
    val stopLines = ranges.flatMap(r => StatusLiveSource.readRange(sPath, r.sStart, r.sEnd))
    assert(stopLines.contains("m5\t2"))
    assert(stopLines.toSet.subsetOf(stops.toSet))
    // more groups than subjects clamps; zero-subject census plans nothing
    assert(StatusLiveSource.planCensusRanges(cPath, None, 99).length === census.length)
    val empty = stage(Seq.empty)
    assert(StatusLiveSource.planCensusRanges(empty, None, 4).isEmpty)
  }

  test("the streaming tail plans ranged groups per micro-batch (census bounds the stream)") {
    // the census applies to the TAIL too: each micro-batch window plans
    // its own byte-range groups (the plan cache keys per window, so a
    // fresh batch re-plans), census subjects flow, strangers never do
    val docs: IndexedSeq[StubDoc] =
      ((for (s <- 0 until 6; i <- 0 until 5) yield doc(f"e$s", i)) ++
        (0 until 5).map(doc("zz", _))).toIndexedSeq // zz: NOT in the census
    val census = (0 until 6).map(s => s"e$s")
    val cPath = stage(census)
    val server = startStub(docs)
    try {
      val q = spark.readStream.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "50")
        .option("subjectsPath", cPath).option("censusRanges", "3").load()
        .select(col("subject"), col("id"))
        .writeStream.format("memory").queryName("ranged_tail").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.sql("SELECT subject, id FROM ranged_tail").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val expected = (for (s <- 0 until 6; i <- 0 until 5)
        yield (s"e$s", s"e$s-$i")).toSet
      assert(got.toSet === expected && got.length === expected.size,
        "census subjects exactly once; out-of-census subjects never flow")
    } finally server.stop(0)
  }

  test("UNSORTED staged files are rejected loudly (a misaligned watermark would overship silently)") {
    // group tiling survives any order, but the stops merge-walk aligns by
    // subject order — an unsorted input would park a watermark outside
    // its subject's group and the scan would quietly read past the stop
    val sortedC = stage(Seq("n1", "n2", "n3", "n4"))
    val unsortedC = stage(Seq("n2", "n1", "n3", "n4"))
    val unsortedS = stage(Seq("n3\t5", "n1\t7"))
    val e1 = intercept[IllegalArgumentException](
      StatusLiveSource.planCensusRanges(unsortedC, None, 2))
    assert(e1.getMessage.contains("sorted census"))
    val e2 = intercept[IllegalArgumentException](
      StatusLiveSource.planCensusRanges(sortedC, Some(unsortedS), 2))
    assert(e2.getMessage.contains("sorted stops"))
  }

  test("sortedness is validated in UTF-8 byte order — the order Spark's binary sort actually staged") {
    // the surrogate seam: U+F000 (BMP private-use, 3-byte UTF-8 0xEF…)
    // sorts BELOW U+1F600 (non-BMP, 4-byte 0xF0…) in UTF-8 bytes — the
    // order Spark's UTF8String sort writes — but Java compareTo (UTF-16
    // code units: lead surrogate 0xD83D < 0xF000) says the opposite, so
    // a compareTo-validating planner would spuriously reject exactly the
    // files the writer stages
    val bmp = "s"
    val astral = "s😀" // U+1F600
    // premise, pinned against Spark itself: its binary sort puts the BMP
    // private-use subject first
    val sparkOrder = spark.createDataset(Seq(astral, bmp))(
      org.apache.spark.sql.Encoders.STRING).sort("value").collect().toSeq
    assert(sparkOrder === Seq(bmp, astral),
      "premise: Spark's UTF8String sort is UTF-8 byte / code-point order")
    val cPath = stage(Seq(bmp, astral))
    val sPath = stage(Seq(s"$bmp\t5", s"$astral\t7"))
    val plan = StatusLiveSource.planCensusRangesHot(cPath, Some(sPath), 2, Set(astral))
    assert(plan.ranges.length === 2, "the staged order must be ACCEPTED")
    assert(plan.ranges.flatMap(r =>
      StatusLiveSource.readRange(cPath, r.cStart, r.cEnd)) === Seq(bmp, astral))
    // the stops merge-walk aligns in the SAME order: each subject's stop
    // lands in its own group's slice (a compareTo walk would park the
    // astral subject's watermark in the wrong group — silent overship)
    val stopLines = plan.ranges.map(r =>
      StatusLiveSource.readRange(sPath, r.sStart, r.sEnd))
    assert(stopLines(0) === Seq(s"$bmp\t5") && stopLines(1) === Seq(s"$astral\t7"),
      s"stops must align per group in UTF-8 order, got $stopLines")
    assert(plan.hotStops === Map(astral -> 7L), "the hot walk reads the same order")
    // genuinely unsorted (in UTF-8 terms) still fails loudly, both files
    val badC = stage(Seq(astral, bmp))
    val e1 = intercept[IllegalArgumentException](
      StatusLiveSource.planCensusRanges(badC, None, 2))
    assert(e1.getMessage.contains("UTF-8 byte order"))
    val badS = stage(Seq(s"$astral\t7", s"$bmp\t5"))
    val e2 = intercept[IllegalArgumentException](
      StatusLiveSource.planCensusRanges(cPath, Some(badS), 2))
    assert(e2.getMessage.contains("STRICTLY sorted stops"))
  }

  test("DUPLICATE subjects are rejected loudly (ranged tasks drain raw lines — a dup drains twice)") {
    // the materialized path dedups through a Set; ranged tasks do not,
    // and a duplicate straddling a group boundary would park its
    // watermark in only the later group — strictly-sorted means unique
    val dupC = stage(Seq("p1", "p2", "p2", "p3"))
    val e1 = intercept[IllegalArgumentException](
      StatusLiveSource.planCensusRanges(dupC, None, 2))
    assert(e1.getMessage.contains("STRICTLY sorted census"))
    val cleanC = stage(Seq("p1", "p2", "p3"))
    val dupS = stage(Seq("p1\t5", "p2\t6", "p2\t7"))
    val e2 = intercept[IllegalArgumentException](
      StatusLiveSource.planCensusRanges(cleanC, Some(dupS), 2))
    assert(e2.getMessage.contains("STRICTLY sorted stops"))
  }

  test("a >2 GiB staged-file slice is refused, not silently truncated") {
    // (end-start).toInt past 2 GiB throws ugly (2–4 GiB) or WRAPS small
    // and silently drops subjects (>4 GiB) — the guard fires first, with
    // the remedy (raise censusRanges) in the message
    val p = stage(Seq("x1"))
    val e = intercept[IllegalArgumentException](
      StatusLiveSource.readRange(p, 0L, (Int.MaxValue.toLong + 10L)))
    assert(e.getMessage.contains("raise censusRanges"))
  }

  test("the inline stopBySubject OPTION rides ranged partitions (merged under the file stops)") {
    // censusRanges skips the load()-time stops read, but the INLINE map
    // arrives through a catalog property and must still apply — dropped,
    // the scan would overship past every inline stop. a1 stops inline at
    // doc 4; a2 stops from the FILE at doc 6; a3 carries both and the
    // file wins (same right-bias as the materialized path).
    val docs: IndexedSeq[StubDoc] =
      (for (s <- 1 to 4; i <- 0 until 12) yield doc(s"a$s", i)).toIndexedSeq
    val census = (1 to 4).map(s => s"a$s")
    val stops = Seq(s"a2\t${BaseMs + 6000}", s"a3\t${BaseMs + 6000}")
    val cPath = stage(census)
    val sPath = stage(stops)
    val served = new java.util.concurrent.atomic.AtomicLong
    val server = startStub(docs, counters = StubCounters(served = served))
    try {
      val inline = StatusLiveSource.stopsJson(
        Map("a1" -> (BaseMs + 4000), "a3" -> (BaseMs + 2000)))
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "50")
        .option("subjectsPath", cPath).option("stopBySubjectPath", sPath)
        .option("stopBySubject", inline)
        .option("censusRanges", "2").load()
      val got = live.select(col("id")).collect().map(_.getString(0)).toSet
      val expected = (for {
        (s, n) <- Seq(("a1", 4), ("a2", 6), ("a3", 6), ("a4", 12))
        i <- 0 until n
      } yield s"$s-$i").toSet
      assert(got === expected, "inline + file stops both apply; file wins a conflict")
      assert(served.get() === expected.size.toLong,
        "inline stops must reach the WIRE, not be filtered after shipping")
    } finally server.stop(0)
  }

  test("property: random censuses and stops tile and align exactly (seeded, 500 trials)") {
    // byte-offset math is where off-by-ones hide, and multi-byte UTF-8
    // subjects are where byte offsets and character counts diverge — the
    // alphabet mixes 1-, 2- and 3-byte code points deliberately. Three
    // invariants per trial: tiles reconstruct the census exactly; every
    // stop lands in the range whose tile owns its subject; every stop
    // appears in exactly one range.
    val rnd = new scala.util.Random(20260816L)
    val alphabet = "abXYZ0189éü中"
    for (trial <- 0 until 500) {
      val n = 1 + rnd.nextInt(60)
      def subj(): String =
        (0 to rnd.nextInt(6)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val census = Seq.fill(n)(subj()).distinct.sorted
      val stopsSubjects = census.filter(_ => rnd.nextBoolean())
      val stops = stopsSubjects.map(s => s"$s\t${1700000000000L + rnd.nextInt(1000)}")
      // a random hot-list: census members mixed with strangers — the
      // plan must resolve it to census ∩ hot (in census order), lift
      // exactly those subjects' stops, and leave every tile UNCHANGED
      val hot = (census.filter(_ => rnd.nextInt(4) == 0) ++
        Seq.fill(rnd.nextInt(3))(subj() + "~stranger")).toSet
      val cPath = stage(census)
      val sPath = stage(stops)
      try {
        val g = 1 + rnd.nextInt(8)
        val hotPlan = StatusLiveSource.planCensusRangesHot(cPath, Some(sPath), g, hot)
        val ranges = hotPlan.ranges
        assert(hotPlan.hotPresent === census.filter(hot),
          s"trial $trial: hotPresent must be census ∩ hot, in census order")
        val stopOf = stops.map { l =>
          (l.takeWhile(_ != '\t'), l.dropWhile(_ != '\t').drop(1).toLong)
        }.toMap
        assert(hotPlan.hotStops ===
          stopOf.view.filterKeys(s => hot(s) && census.contains(s)).toMap,
          s"trial $trial: hotStops must lift exactly the present hot subjects' stops")
        assert(ranges === StatusLiveSource.planCensusRanges(cPath, Some(sPath), g),
          s"trial $trial: the hot-list must leave the byte-range tiles unchanged")
        // per-group size rounds UP (ceil(n/g) subjects each), so the
        // group count is ceil(n/per) — at most g, never more
        val per = (census.length + math.min(g, census.length) - 1) /
          math.min(g, census.length)
        assert(ranges.length === (census.length + per - 1) / per,
          s"trial $trial group count (n=${census.length} g=$g)")
        assert(ranges.length <= g, s"trial $trial: more groups than requested")
        val tiles = ranges.map(r => StatusLiveSource.readRange(cPath, r.cStart, r.cEnd))
        assert(tiles.flatten === census, s"trial $trial: tiles must reconstruct the census")
        val stopsOf = ranges.zip(tiles).flatMap { case (r, tile) =>
          StatusLiveSource.readRange(sPath, r.sStart, r.sEnd).map { line =>
            (line.takeWhile(_ != '\t'), tile)
          }
        }
        stopsOf.foreach { case (s, tile) =>
          assert(tile.contains(s), s"trial $trial: stop for '$s' landed outside its tile")
        }
        assert(stopsOf.map(_._1).sorted === stopsSubjects.sorted,
          s"trial $trial: every stop in exactly one range")
      } finally {
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(cPath))
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(sPath))
      }
    }
  }

  test("the constrained fallback STREAM-intersects the staged files (O(keep) driver state)") {
    // a point lookup against a mega-fleet ranged census must not
    // materialize the census to intersect 3 subjects — filterStaged
    // streams both files and keeps only the constraint's members
    val cPath = stage(Seq("k1", "k2", "k3", "k4"))
    val sPath = stage(Seq("k1\t5", "k3\t7", "zz\t9"))
    val (present, stops) = StatusLiveSource.filterStaged(cPath, Some(sPath),
      Set("k3", "k1", "stranger"))
    assert(present === Seq("k1", "k3"), "census ∩ keep, in census order; strangers dropped")
    assert(stops === Map("k1" -> 5L, "k3" -> 7L), "stops lifted for kept subjects only")
    // and through the SCAN: a DPP runtime set against a 5000-token ranged
    // census plans exactly the intersection's point loops
    val census = (0 until 5000).map(i => f"w$i%04d")
    val bigC = stage(census)
    val props = new java.util.HashMap[String, String]()
    props.put("url", "http://127.0.0.1:9")
    props.put("subjectsPath", bigC)
    props.put("censusRanges", "8")
    val scan = new graft.sources.StatusLiveSource()
      .getTable(graft.sources.StatusV2Source.Schema, Array.empty, props)
      .asInstanceOf[graft.sources.StatusLiveTable]
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        new java.util.HashMap[String, String]()))
      .build().asInstanceOf[graft.sources.StatusLiveScan]
    import org.apache.spark.sql.sources.{Filter => SFilter, In => SIn}
    scan.filter(Array[SFilter](SIn("subject", Array[Any]("w0007", "w4242", "nope"))))
    val parts = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.StatusLivePartition])
    assert(parts.flatMap(_.subjects.get).sorted.toSeq === Seq("w0007", "w4242"),
      "planned loops must be census ∩ runtime set — via the stream, never a materialize")
  }

  test("hotSubjectsPath carves whales OUT of the tiles and drains them through slices") {
    // ranged groups are equal-SUBJECT-count and never probe for hot
    // devices — a known deep-history whale would straggle its byte-range
    // group. The caller-supplied hot-list plans the whale through the
    // sliced-PIT path instead, carved out of every tile, with its
    // watermark still applied ON the slice windows.
    val docs: IndexedSeq[StubDoc] =
      ((0 until 60).map(doc("hot", _)) ++
        (for (s <- 0 until 6; i <- 0 until 8) yield doc(s"c$s", i))).toIndexedSeq
    val census = ((0 until 6).map(s => s"c$s") :+ "hot").sorted
    val stops = Seq(s"c2\t${BaseMs + 4000}", s"hot\t${BaseMs + 30000}")
    val cPath = stage(census)
    val sPath = stage(stops)
    val hPath = stage(Seq("hot"))
    val served = new java.util.concurrent.atomic.AtomicLong
    val servedSliced = new java.util.concurrent.atomic.AtomicLong
    val sliceSeen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val slicedSubjects = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = startStub(docs, StubModes(pitMode = true),
      StubCounters(served = served, servedSliced = servedSliced, sliceSeen = sliceSeen,
      slicedSubjects = slicedSubjects))
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("subjectsPath", cPath).option("stopBySubjectPath", sPath)
        .option("hotSubjectsPath", hPath)
        .option("censusRanges", "3").option("slices", "4").load()
      assert(live.rdd.getNumPartitions === 7, "3 byte-range groups + 4 slices for the whale")
      val got = live.select(col("id")).collect().map(_.getString(0)).toSet
      val expected = ((0 until 30).map(i => s"hot-$i") ++
        (for {
          s <- 0 until 6
          i <- 0 until (if (s == 2) 4 else 8)
        } yield s"c$s-$i")).toSet
      assert(got === expected, "whale via slices + fleet via tiles, watermarks applied, no overlap")
      import scala.jdk.CollectionConverters._
      assert(slicedSubjects.asScala.toSet === Set("hot"), "ONLY the hot-list rides slices")
      assert(sliceSeen.asScala.toSet === Set(0, 1, 2, 3), "the whale fanned across all 4 slices")
      // exactly-once split across the two paths: the tiles must NOT loop
      // the whale again (served counts everything; servedSliced the slices)
      assert(servedSliced.get() === 30L, "the whale's watermark rode its slice windows")
      assert(served.get() === expected.size.toLong,
        "tiles excluded the whale exactly — no doc served twice across paths")
    } finally server.stop(0)
  }

  test("a PIT-less, percentiles-less server still isolates the whale: its OWN task, tiles exclude it") {
    val docs: IndexedSeq[StubDoc] =
      ((0 until 40).map(doc("hot", _)) ++
        (for (s <- 0 until 4; i <- 0 until 6) yield doc(s"c$s", i))).toIndexedSeq
    val census = ((0 until 4).map(s => s"c$s") :+ "hot").sorted
    val stops = Seq(s"hot\t${BaseMs + 20000}")
    val cPath = stage(census)
    val sPath = stage(stops)
    val hPath = stage(Seq("hot"))
    val served = new java.util.concurrent.atomic.AtomicLong
    val sliceSeen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val server = startStub(docs, StubModes(pitMode = false, timeCutsMode = false),
      StubCounters(served = served, sliceSeen = sliceSeen))
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("subjectsPath", cPath).option("stopBySubjectPath", sPath)
        .option("hotSubjectsPath", hPath)
        .option("censusRanges", "2").option("slices", "4").load()
      assert(live.rdd.getNumPartitions === 3, "2 byte-range groups + 1 isolated whale task")
      val got = live.select(col("id")).collect().map(_.getString(0)).toSet
      val expected = ((0 until 20).map(i => s"hot-$i") ++
        (for (s <- 0 until 4; i <- 0 until 6) yield s"c$s-$i")).toSet
      assert(got === expected, "identical rows — isolation, never a torn parallel read")
      assert(sliceSeen.isEmpty, "no slice request ever reached the PIT-less server")
      assert(served.get() === expected.size.toLong, "watermark on the wire; no double-serve")
    } finally server.stop(0)
  }

  test("a hot-list subject ABSENT from the census plans nothing (never a phantom drain)") {
    val docs: IndexedSeq[StubDoc] =
      (for (s <- 0 until 4; i <- 0 until 5) yield doc(s"d$s", i)).toIndexedSeq
    val census = (0 until 4).map(s => s"d$s")
    val cPath = stage(census)
    val hPath = stage(Seq("zz"))
    val server = startStub(docs, StubModes(pitMode = true))
    try {
      val live = spark.read.format("graft-status-live")
        .option("url", url(server)).option("batchSize", "64")
        .option("subjectsPath", cPath).option("hotSubjectsPath", hPath)
        .option("censusRanges", "2").option("slices", "4").load()
      assert(live.rdd.getNumPartitions === 2, "no census member is hot: plain ranged groups")
      assert(live.count() === 20L)
    } finally server.stop(0)
  }

  test("hotSubjectsPath without censusRanges is refused at load") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-status-live")
        .option("url", "http://127.0.0.1:9")
        .option("hotSubjectsPath", "/nonexistent").load()
    }
    assert(e.getMessage.contains("hotSubjectsPath composes with censusRanges"))
  }

  test("censusWeightsPath: boundaries fall at equal cumulative weight — a skewed fleet balances") {
    // 10 subjects, one 10x-deep: equal-subject-count groups pack the
    // whale with a neighbor (its group carries ~58% of the fleet);
    // weighted boundaries give it a group of its own and spread the rest
    val census = (0 until 10).map(i => f"w$i%02d")
    val weights = census.map(s => s"$s\t${if (s == "w00") 100 else 10}")
    val cPath = stage(census)
    val wPath = stage(weights)
    // strays below, between, and past every census subject are inert;
    // absences default to weight 1 (w09 is deliberately missing)
    val wStray = stage(Seq("a-stray\t5") ++ weights.filterNot(_.startsWith("w09")) ++
      Seq("zz-stray\t7"))
    try {
      val plain = StatusLiveSource.planCensusRanges(cPath, None, 5)
      val weighted = StatusLiveSource.planCensusRangesHot(
        cPath, None, 5, Set.empty, Some(wPath)).ranges
      def tiles(rs: Seq[StatusLiveSource.CensusRange]) =
        rs.map(r => StatusLiveSource.readRange(cPath, r.cStart, r.cEnd))
      assert(tiles(plain).flatten === census && tiles(weighted).flatten === census,
        "both plans must tile the census exactly")
      val wOf = census.map(s => s -> (if (s == "w00") 100L else 10L)).toMap
      def loads(rs: Seq[StatusLiveSource.CensusRange]) = tiles(rs).map(_.map(wOf).sum)
      // plain: ceil(10/5)=2 per group -> the whale's group weighs 110 of 190
      assert(loads(plain).max === 110L, s"equal-count packing straggles: ${loads(plain)}")
      // weighted: the whale is alone; no other group exceeds ideal+max
      assert(loads(weighted).max === 100L,
        s"weighted boundaries must isolate the whale: ${loads(weighted)}")
      assert(tiles(weighted).count(_.contains("w00")) === 1 &&
        tiles(weighted).find(_.contains("w00")).get === Seq("w00"),
        "the whale owns its group")
      // strays skip, absences weigh 1, and the plan still tiles exactly
      val strayPlan = StatusLiveSource.planCensusRangesHot(
        cPath, None, 5, Set.empty, Some(wStray)).ranges
      assert(strayPlan.map(r => StatusLiveSource.readRange(cPath, r.cStart, r.cEnd))
        .flatten === census, "strays/absences must not shift the tiling's coverage")
      // the whale must be isolated WHEREVER it sorts — a boundary rule
      // testing only the weight BEFORE a line would merge a mid-census
      // whale backward and collapse a TRAILING whale's plan to one group
      // (the heavy-last shape of fleets where newer ids run deeper)
      for (whaleAt <- Seq(4, 9)) {
        val c2 = (0 until 10).map(i => f"m$i%02d")
        val w2 = stage(c2.map(s =>
          s"$s\t${if (s == f"m$whaleAt%02d") 100 else 10}"))
        val p2 = stage(c2)
        try {
          val t2 = StatusLiveSource.planCensusRangesHot(
            p2, None, 5, Set.empty, Some(w2)).ranges
            .map(r => StatusLiveSource.readRange(p2, r.cStart, r.cEnd))
          assert(t2.flatten === c2, s"whaleAt=$whaleAt: coverage")
          assert(t2.find(_.contains(f"m$whaleAt%02d")).get === Seq(f"m$whaleAt%02d"),
            s"whaleAt=$whaleAt: the whale must own its group, got $t2")
          assert(t2.length > 1, s"whaleAt=$whaleAt: the plan must not collapse: $t2")
        } finally Seq(w2, p2).foreach(p =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
      }
      // staging bugs fail loudly: zero weight, unsorted file
      val wZero = stage(Seq("w00\t0"))
      val e1 = intercept[IllegalArgumentException](
        StatusLiveSource.planCensusRangesHot(cPath, None, 5, Set.empty, Some(wZero)))
      assert(e1.getMessage.contains("must be positive"))
      val wBad = stage(Seq("w05\t3", "w01\t2"))
      val e2 = intercept[IllegalArgumentException](
        StatusLiveSource.planCensusRangesHot(cPath, None, 5, Set.empty, Some(wBad)))
      assert(e2.getMessage.contains("STRICTLY sorted weights"))
      Seq(wZero, wBad).foreach(p =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
    } finally Seq(cPath, wPath, wStray).foreach(p =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
  }

  test("midpoint boundary arithmetic is EXACT: multiply before dividing (advice r17)") {
    // W=3 (odd), g=2: the k=1 equal-weight cut sits at exactly W*k/g =
    // 1.5. Line b's midpoint (cum + w/2 = 1.5) does NOT strictly cross
    // it, so b belongs to group 1 and the boundary falls on c:
    // [a,b] / [c]. Truncate-FIRST arithmetic — 2*(W*k/g) = 2 instead of
    // 2*W*k/g = 3 — sees b's doubled midpoint 3 > 2 and cuts one line
    // early ([a] / [b,c]), contradicting the documented rule whenever
    // W*k mod g >= g/2. Balance-only drift, but the rule must be the
    // rule it states.
    val census = Seq("a", "b", "c")
    val cPath = stage(census)
    val wPath = stage(census.map(s => s"$s\t1"))
    try {
      val tiles = StatusLiveSource.planCensusRangesHot(
        cPath, None, 2, Set.empty, Some(wPath)).ranges
        .map(r => StatusLiveSource.readRange(cPath, r.cStart, r.cEnd))
      assert(tiles === Seq(Seq("a", "b"), Seq("c")),
        s"the exact midpoint rule keeps b in group 1: $tiles")
    } finally Seq(cPath, wPath).foreach(p =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
  }

  test("weights compose with the hot-list: a carved-out whale weighs ZERO in the boundary walk") {
    // the whale's docs drain through its own parallel tasks, not its
    // tile — counting its weight would under-load the group it was
    // carved from and pack the remaining cold subjects 2:1
    val census = "w00" +: (1 to 9).map(i => f"c$i%02d")
    val sorted = census.sorted // w00 sorts last ('w' > 'c')
    val weights = sorted.map(s => s"$s\t${if (s == "w00") 100 else 10}")
    val cPath = stage(sorted)
    val wPath = stage(weights)
    try {
      val plan = StatusLiveSource.planCensusRangesHot(
        cPath, None, 3, Set("w00"), Some(wPath))
      assert(plan.hotPresent === Seq("w00"))
      val tiles = plan.ranges.map(r =>
        StatusLiveSource.readRange(cPath, r.cStart, r.cEnd))
      assert(tiles.flatten === sorted, "tiles still cover every line (exclusion is task-side)")
      // the 9 cold subjects (weight 10 each) split 3/3/3 — the whale's
      // 100 is invisible to the cuts
      val coldLoads = tiles.map(_.count(_ != "w00") * 10L)
      assert(coldLoads === Seq(30L, 30L, 30L),
        s"carved-out weight must not skew the cold balance: $coldLoads")
    } finally Seq(cPath, wPath).foreach(p =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
  }

  test("property: weighted boundaries keep every tiling invariant and a provable balance bound (seeded, 300 trials)") {
    // the weighted fork of the planner fuzz: random fleets, random
    // positive weights (some subjects absent — they weigh 1), random
    // stray weight lines. Invariants: tiles reconstruct the census
    // exactly; stops align exactly as unweighted (boundary placement is
    // the only thing weights may move); group count ≤ g; and the greedy
    // equal-cumulative-weight rule's provable bound — no group heavier
    // than ceil(W/g) + the heaviest single subject (one subject cannot
    // split, so that is the best any contiguous partition guarantees).
    val rnd = new scala.util.Random(20260817L)
    val alphabet = "abXYZ0189éü中"
    for (trial <- 0 until 300) {
      val n = 1 + rnd.nextInt(60)
      def subj(): String =
        (0 to rnd.nextInt(6)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val census = Seq.fill(n)(subj()).distinct.sorted
      val wOf: Map[String, Long] = census.map(s =>
        s -> (if (rnd.nextBoolean()) 1L + rnd.nextInt(100) else 1L)).toMap
      val weightLines = census.filter(s => wOf(s) > 1L).map(s => s"$s\t${wOf(s)}") ++
        (if (rnd.nextBoolean()) Seq(s"~~stray\t9") else Nil)
      val stopsSubjects = census.filter(_ => rnd.nextBoolean())
      val stops = stopsSubjects.map(s => s"$s\t${1700000000000L + rnd.nextInt(1000)}")
      val cPath = stage(census)
      val sPath = stage(stops)
      val wPath = stage(weightLines.sorted)
      try {
        val g = 1 + rnd.nextInt(8)
        val ranges = StatusLiveSource.planCensusRangesHot(
          cPath, Some(sPath), g, Set.empty, Some(wPath)).ranges
        assert(ranges.length <= g, s"trial $trial: more groups than requested")
        val tiles = ranges.map(r => StatusLiveSource.readRange(cPath, r.cStart, r.cEnd))
        assert(tiles.flatten === census, s"trial $trial: tiles must reconstruct the census")
        assert(tiles.forall(_.nonEmpty), s"trial $trial: no empty group")
        val W = census.map(wOf).sum
        val effG = math.min(g, census.length) // the planner clamps g to n
        val bound = (W + effG - 1) / effG + census.map(wOf).max
        tiles.foreach { t =>
          assert(t.map(wOf).sum <= bound,
            s"trial $trial: group weight ${t.map(wOf).sum} exceeds ceil(W/g)+max = $bound " +
              s"(W=$W g=$g loads=${tiles.map(_.map(wOf).sum)})")
        }
        val stopsOf = ranges.zip(tiles).flatMap { case (r, tile) =>
          StatusLiveSource.readRange(sPath, r.sStart, r.sEnd).map { line =>
            (line.takeWhile(_ != '\t'), tile)
          }
        }
        stopsOf.foreach { case (s, tile) =>
          assert(tile.contains(s), s"trial $trial: stop for '$s' landed outside its tile")
        }
        assert(stopsOf.map(_._1).sorted === stopsSubjects.sorted,
          s"trial $trial: every stop in exactly one range")
      } finally Seq(cPath, sPath, wPath).foreach(p =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
    }
  }

  test("property: randomized fleets drain exactly-once END-TO-END under ranged + hot-list (seeded, 25 trials)") {
    // the planner fuzz above pins the byte-offset math; this one drives
    // the WHOLE composition through the DSv2 scan against a brute-force
    // model: random fleet sizes and depths, a random subset watermarked,
    // a random hot-list (members + strangers), random group and slice
    // counts, PIT support coin-flipped. Invariants per trial: the read
    // equals the model exactly-once, and the wire never ships a doc the
    // watermarks exclude (served == model size — stops rode the wire on
    // BOTH the tile loops and the slice windows).
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 0 until 25) {
      val nSubjects = 2 + rnd.nextInt(12)
      val subjects = (0 until nSubjects).map(s => f"t$s%02d")
      val depth = subjects.map(s => s -> (1 + rnd.nextInt(30))).toMap
      val docs: IndexedSeq[StubDoc] =
        subjects.flatMap(s => (0 until depth(s)).map(i => doc(s, i))).toIndexedSeq
      val stopsMap = subjects.filter(_ => rnd.nextBoolean())
        .map(s => s -> (BaseMs + rnd.nextInt(32) * 1000L)).toMap
      val hot = (subjects.filter(_ => rnd.nextInt(3) == 0) ++
        (if (rnd.nextBoolean()) Seq("zz-stranger") else Nil)).toSet
      val pitMode = rnd.nextBoolean()
      val cutsMode = rnd.nextBoolean() // PIT-less whales: tiles vs isolation
      val msearch = rnd.nextBoolean() // batched cut probes vs bounded pool
      // random weights (half the trials): boundary placement must never
      // change WHAT ships, only where groups fall
      val weighted = rnd.nextBoolean()
      val weightLines = subjects.filter(_ => rnd.nextBoolean())
        .map(s => s"$s\t${1 + rnd.nextInt(50)}")
      val groups = 1 + rnd.nextInt(5)
      val slices = 1 + rnd.nextInt(4)
      val expected: Set[String] = subjects.flatMap { s =>
        val stopMs = stopsMap.getOrElse(s, Long.MaxValue)
        (0 until depth(s)).filter(i => BaseMs + i * 1000L < stopMs).map(i => s"$s-$i")
      }.toSet
      val cPath = stage(subjects)
      val sPath = stage(stopsMap.toSeq.sortBy(_._1).map { case (s, ms) => s"$s\t$ms" })
      val hPath = stage(hot.toSeq.sorted)
      val wPath = stage(weightLines)
      val served = new java.util.concurrent.atomic.AtomicLong
      val server = startStub(docs, StubModes(pitMode = pitMode, timeCutsMode = cutsMode,
        msearchMode = msearch),
        StubCounters(served = served))
      try {
        var r = spark.read.format("graft-status-live")
          .option("url", url(server)).option("batchSize", "64")
          .option("subjectsPath", cPath).option("stopBySubjectPath", sPath)
          .option("hotSubjectsPath", hPath)
          .option("censusRanges", groups.toString)
          .option("slices", slices.toString)
        if (weighted) r = r.option("censusWeightsPath", wPath)
        val live = r.load()
        val got = live.select(col("id")).collect().map(_.getString(0))
        assert(got.length === expected.size && got.toSet === expected,
          s"trial $trial (pit=$pitMode cuts=$cutsMode ms=$msearch w=$weighted g=$groups sl=$slices hot=${hot.size}): " +
            s"got ${got.length}, expected ${expected.size}")
        assert(served.get() === expected.size.toLong,
          s"trial $trial: wire shipped ${served.get()} for a ${expected.size}-doc surviving set")
      } finally {
        server.stop(0)
        Seq(cPath, sPath, hPath, wPath).foreach(p =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
      }
    }
  }

  test("censusRanges without subjectsPath is refused at load (a dropped stops file would overship)") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-status-live")
        .option("url", "http://127.0.0.1:9").option("censusRanges", "4")
        .option("stopBySubjectPath", "/nonexistent").load()
    }
    assert(e.getMessage.contains("censusRanges requires subjectsPath"))
  }
}
