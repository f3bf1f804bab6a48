package graft.tools

import org.apache.spark.sql.functions._

import graft.queries.LiveQueries.{startStub, statusJson, withServer, StubCounters, StubModes}

/** Measures the LIVE wire tier's throughput against a loopback stub: N
  * synthetic status docs across K subjects served by the in-process
  * `_search` stub, read through the full client stack (`graft-status-live`
  * → EsHttpClient paged loops → NDJSON decode) with the subject census
  * pushed (≤ 2 × defaultParallelism task groups). Reported: docs/s
  * end-to-end and the HTTP page-count shape. Loopback-only — no socket
  * leaves the machine; the number bounds protocol + decode overhead, not
  * network.
  *
  * Usage: runMain graft.tools.LiveProbe [docs] [subjects] [batchSize]
  */
object LiveProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toInt).getOrElse(500000)
    val nSubjects = args.lift(1).map(_.toInt).getOrElse(2000)
    val batch = args.lift(2).map(_.toInt).getOrElse(1000)

    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    println(s"[liveprobe] corpus: $nDocs docs x $nSubjects subjects, page=$batch")
    val docs: IndexedSeq[graft.queries.LiveQueries.StubDoc] =
      (0 until nDocs).map { i =>
        val subj = (i % nSubjects).toString
        val tsu = 1704000000000000L + i.toLong * 1000
        val json = statusJson(s"e$i", subj, tsu, "v2.0", s"""{"vehicle":{"cents":$i}}""")
        graft.queries.LiveQueries.StubDoc(s"e$i", subj, tsu, json)
      }
    withServer(startStub(docs)) { url =>
      val subjects = (0 until nSubjects).map(_.toString)
      def read() = spark.read.format("graft-status-live")
        .option("url", url)
        .option("batchSize", batch.toString)
        .load()
        .where(col("subject").isin(subjects: _*))
        .select("id", "subject", "time")
      read().count() // warm (JIT, codegen, connection pool)
      val t0 = System.nanoTime()
      val n = read().count()
      val wall = (System.nanoTime() - t0) / 1e9
      require(n == nDocs, s"live read lost rows: $n of $nDocs")
      val tasks = read().rdd.getNumPartitions
      println(f"[liveprobe] full census read: $n docs in $wall%.2f s " +
        f"(${n / wall}%.0f docs/s through the wire stack, $tasks-task fan-out)")
    }

    // ── section 2: incremental-resume wire traffic — the r12 watermark
    // pushdown (runLive ships per-token stop windows in the request
    // bodies) vs the plan-side filter (full window re-downloaded, rows
    // dropped in the watermark join). Same output either way; the wire
    // ships N vs N/2 docs.
    {
      import graft.jobs.{SyncJob, SyncOptions}
      import graft.sources.DeviceDim
      import org.apache.spark.sql.Row
      val syncedDocs: IndexedSeq[graft.queries.LiveQueries.StubDoc] =
        (0 until nDocs).map { i =>
          val subj = (i % nSubjects).toString
          val tsu = 1704000000000000L + i.toLong * 1000
          val json = statusJson(s"e$i", subj, tsu, "v1.0", s"""{"speed":$i}""")
          graft.queries.LiveQueries.StubDoc(s"e$i", subj, tsu, json)
        }
      // the NEWER half is already synced: the sink's per-token watermark is
      // each subject's oldest synced timestamp
      val half = nDocs / 2
      val wmBySubject: Map[String, Long] = (half until half + nSubjects)
        .map(i => (i % nSubjects).toString -> (1704000000000000L + i.toLong * 1000)).toMap
      val sinkSchema = graft.sources.SignalSink.Schema
      val sink = spark.createDataFrame(
        spark.sparkContext.parallelize(wmBySubject.toSeq.map { case (s, us) =>
          Row(s.toLong, java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)),
            "Vehicle.Speed", 1.0, null, "probe")
        }, 4), sinkSchema)
      val subjects = (0 until nSubjects).map(_.toString)
      val dim = DeviceDim.identityDim(spark, 0L until nSubjects.toLong)
      val opts = SyncOptions(tokens = subjects,
        start = Some(new java.sql.Timestamp(0L)),
        stop = Some(new java.sql.Timestamp(9999999999999L)))
      val served = new java.util.concurrent.atomic.AtomicLong
      withServer(startStub(syncedDocs, counters = StubCounters(served = served))) { url =>
        def naive() = {
          val docs = spark.read.format("graft-status-live")
            .option("url", url).option("batchSize", batch.toString).load()
            .where(col("subject").isin(subjects: _*))
            .select(col("subject"), col("source"), col("time"), col("data"))
          SyncJob.run(docs, dim, Some(sink), opts)
        }
        naive().count() // warm
        served.set(0)
        val tN = System.nanoTime()
        val nN = naive().count()
        val wallN = (System.nanoTime() - tN) / 1e9
        val shippedN = served.get()
        served.set(0)
        val tL = System.nanoTime()
        val nL = SyncJob.runLive(spark, url, dim, Some(sink), opts, batchSize = batch).count()
        val wallL = (System.nanoTime() - tL) / 1e9
        val shippedL = served.get()
        require(nN == nL, s"both resume paths must produce identical output: $nN vs $nL")
        println(f"[liveprobe] resume (half synced): plan-side filter shipped $shippedN docs " +
          f"in $wallN%.2f s; runLive watermark pushdown shipped $shippedL docs in $wallL%.2f s " +
          f"(${shippedN.toDouble / math.max(shippedL, 1)}%.1fx less wire traffic, " +
          f"output $nL rows both)")
      }
    }

    // ── section 3: the CH read source's aggregate pushdown — the wire
    // carries GROUPS, not rows. Same grouped aggregate computed (a) with
    // the pushdown (partial per token range, Spark merges) and (b) from
    // the full row scan with the aggregation in Spark.
    {
      val nRows = nDocs // reuse the probe's scale knob
      withServer(graft.queries.ChSignalStub.start()) { url =>
        val client = new graft.sources.ClickHouseHttpClient(url)
        client.execute(graft.sources.ClickHouseDdl.signalTableDdl(
          graft.sources.SignalLiveSource.Schema))
        val df = spark.range(0, nRows, 1, 8).selectExpr(
          s"id % $nSubjects as token_id",
          "timestamp_micros(1704000000000000 + id * 1000) as timestamp",
          "CASE WHEN id % 2 = 0 THEN 'speed' ELSE 'soc' END as name",
          "CAST(id % 1000 AS DOUBLE) as value_number",
          "CAST(NULL AS STRING) as value_string")
        df.write.format("graft-signal-live").option("url", url).mode("append").save()
        def read() = spark.read.format("graft-signal-live")
          .option("url", url).option("partitions", "8").load()
        def pushed() = read().groupBy("token_id")
          .agg(count(lit(1)).as("n"), sum("value_number").as("s")).count()
        // defeat the pushdown with an expression aggregate: rows ship
        def rowShip() = read().groupBy("token_id")
          .agg(count(lit(1)).as("n"), sum(col("value_number") + 0.0).as("s")).count()
        pushed(); rowShip() // warm
        var t0 = System.nanoTime()
        val g1 = pushed()
        val wallP = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val g2 = rowShip()
        val wallR = (System.nanoTime() - t0) / 1e9
        require(g1 == g2)
        // loopback wall cannot price bandwidth (the wire is free here, and
        // the stub computes the same group-by either way); the SCALE
        // number is rows-on-the-wire: ≤ groups×partitions partials vs
        // every row
        println(f"[liveprobe] CH read ($nRows rows, $g1 groups): pushed agg ships " +
          f"≤ ${g1 * 8} partial rows (wall $wallP%.2f s), row-ship ships $nRows rows " +
          f"(wall $wallR%.2f s) — ${nRows.toDouble / (g1 * 8)}%.0fx fewer wire rows")
      }
    }

    // ── section 4 (r13): the STREAMED row scan's memory posture —
    // `query()` (BodyHandlers.ofString + materialized Seq) must hold the
    // whole result; `queryStream` (ofLines) holds ONE line however large
    // the response. Client-level, same statement, retained-heap sampled
    // mid-drain. This is the difference between "the declared plans are
    // safe" and "an unbounded row SELECT per token range is safe".
    {
      val nRows = 2000000
      withServer(graft.queries.ChSignalStub.start()) { url =>
        val client = new graft.sources.ClickHouseHttpClient(url, timeoutMs = 300000)
        client.execute(graft.sources.ClickHouseDdl.signalTableDdl(
          graft.sources.SignalLiveSource.Schema))
        spark.range(0, nRows, 1, 8).selectExpr(
          "id % 1000 as token_id",
          "timestamp_micros(1704000000000000 + id * 1000) as timestamp",
          "'speed' as name", "CAST(id AS DOUBLE) as value_number",
          "CAST(NULL AS STRING) as value_string")
          .write.format("graft-signal-live").option("url", url).mode("append").save()
        val sql = "SELECT `token_id`, toUnixTimestamp64Micro(`timestamp`), `name`, " +
          "`value_number`, `value_string` FROM `signal`"
        val rt = Runtime.getRuntime
        def usedMb(): Long = {
          System.gc(); Thread.sleep(100)
          (rt.totalMemory() - rt.freeMemory()) >> 20
        }
        val base = usedMb()
        // buffered: the whole TSV string + the row Seq live at once
        val t0 = System.nanoTime()
        val all = client.query(sql)
        val wallB = (System.nanoTime() - t0) / 1e9
        val bufMb = usedMb() - base
        require(all.length == nRows, s"buffered read lost rows: ${all.length}")
        // streamed: sample retained heap at the drain's midpoint
        val t1 = System.nanoTime()
        val it = client.queryStream(sql)
        var cnt = 0
        var midMb = -1L
        while (it.hasNext) {
          it.next(); cnt += 1
          if (cnt == nRows / 2) midMb = usedMb() - base
        }
        val wallS = (System.nanoTime() - t1) / 1e9
        require(cnt == nRows, s"streamed read lost rows: $cnt")
        println(f"[liveprobe] row scan x$nRows: buffered query() retains ~${bufMb}MB " +
          f"(wall $wallB%.2f s); queryStream retains ~${math.max(midMb, 0)}MB mid-drain " +
          f"(wall $wallS%.2f s) — the reader's memory is one row, not one partition")
      }
    }

    // ── section 5 (r13): the search_after tie drain's wire shape — a tie
    // run (one millisecond) wider than the servable cap. The reference
    // ships ONE page and silently loses the rest (sync.go:151-155); the
    // drain completes at near-optimal page count (no re-serve creep).
    {
      val nTies = 60000
      val cap = 600
      val tieDocs = (0 until nTies).map { i =>
        graft.sources.PaginationFuzz.FDoc(f"t$i%06d", Some(1704000000000L), 1704000000000L)
      }
      val requests = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val server5 = startStub(tieDocs.map(_.stub), StubModes(sizeCap = cap),
        StubCounters(requests = Some(requests)))
      try {
        val t0 = System.nanoTime()
        val got = graft.sources.PaginationFuzz.drain(server5, 500, 0L, 1704000001000L)
        val wall = (System.nanoTime() - t0) / 1e9
        require(got.length == nTies, s"drain lost rows: ${got.length} of $nTies")
        val pages = requests.size
        val floor = (nTies + cap - 1) / cap
        println(f"[liveprobe] tie drain ($nTies ties, cap $cap): $pages pages for " +
          f"${got.length} rows in $wall%.2f s " +
          f"(optimal ≥ $floor pages; the reference ships 1 page and silently loses ${nTies - 500})")
      } finally server5.stop(0)
    }

    // ── section 6 (r13): the fleet-scale side-channel — 1M tokens of
    // per-subject watermarks staged to a planner-read file instead of a
    // catalog-property JSON string. Reported: file size (what the OPTION
    // string would have been), write/read wall, and planning wall into
    // 2 × defaultParallelism bounded groups carrying exact slices.
    {
      val nTokens = 1000000
      val subjects = (0 until nTokens).map(i => f"veh$i%07d")
      val stops: Map[String, Long] =
        subjects.iterator.map(s => s -> (1704000000000L + (s.hashCode & 0xffffL))).toMap
      val subjFile = java.nio.file.Files.createTempFile("graft-probe-subj", ".txt").toString
      val stopsFile = java.nio.file.Files.createTempFile("graft-probe-stops", ".json").toString
      var t0 = System.nanoTime()
      graft.sources.StatusLiveSource.writeSubjects(subjects, subjFile)
      graft.sources.StatusLiveSource.writeStops(stops, stopsFile)
      val wallW = (System.nanoTime() - t0) / 1e9
      val mb = (java.nio.file.Files.size(java.nio.file.Paths.get(stopsFile)) +
        java.nio.file.Files.size(java.nio.file.Paths.get(subjFile))) >> 20
      t0 = System.nanoTime()
      val props = new java.util.HashMap[String, String]()
      props.put("url", "http://127.0.0.1:9")
      props.put("subjectsPath", subjFile)
      props.put("stopBySubjectPath", stopsFile)
      val scan = new graft.sources.StatusLiveSource()
        .getTable(graft.sources.StatusV2Source.Schema, Array.empty, props)
        .asInstanceOf[graft.sources.StatusLiveTable]
        .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          new java.util.HashMap[String, String]()))
        .build().asInstanceOf[graft.sources.StatusLiveScan]
      val parts = scan.planInputPartitions()
      val wallP = (System.nanoTime() - t0) / 1e9
      val total = parts.map(_.asInstanceOf[graft.sources.StatusLivePartition].subjects.get.length).sum
      require(total == nTokens && parts.length == 2 * spark.sparkContext.defaultParallelism)
      println(f"[liveprobe] fleet side-channel (1M tokens): ${mb}MB staged " +
        f"(the would-be option string), write $wallW%.2f s, plan into ${parts.length} " +
        f"groups $wallP%.2f s — options carry two paths, tasks carry only their slices")
    }
    // ── section 7 (r14): fleet-as-big-data staging — 10M tokens' census +
    // watermark map written FROM THE CLUSTER (single-partition write.text,
    // the runLive path-mode shape) instead of a driver-side collect. The
    // driver's heap must stay FLAT through staging (its fleet-sized state
    // is zero); the planner-side consume (readStops/readSubjects at
    // load()) then builds the per-token map — the reference's own loop
    // state (sync.go:61-100), measured separately.
    {
      val nTokens = 10000000L
      val rt = Runtime.getRuntime
      def usedMb(): Long = { System.gc(); (rt.totalMemory - rt.freeMemory) >> 20 }
      val wm = spark.range(nTokens).select(
        concat(lit("veh"), lpad(col("id").cast("string"), 8, "0")).as("subject"),
        (lit(1704000000000L) + pmod(col("id") * 31L, lit(65536L))).as("ms"))
      val dirS = java.nio.file.Files.createTempDirectory("graft-probe7-stops")
      val dirC = java.nio.file.Files.createTempDirectory("graft-probe7-census")
      val h0 = usedMb()
      var t0 = System.nanoTime()
      wm.select(concat_ws("\t", col("subject"), col("ms")).as("value"))
        .sort("value").coalesce(1).write.mode("overwrite").text(dirS.toString)
      wm.select(col("subject").as("value"))
        .sort("value").coalesce(1).write.mode("overwrite").text(dirC.toString)
      val wallStage = (System.nanoTime() - t0) / 1e9
      val h1 = usedMb()
      import scala.jdk.CollectionConverters._
      def part(d: java.nio.file.Path): java.nio.file.Path =
        java.nio.file.Files.list(d).iterator().asScala
          .find(_.getFileName.toString.startsWith("part-")).get
      val stagedMb = (java.nio.file.Files.size(part(dirS)) +
        java.nio.file.Files.size(part(dirC))) >> 20
      t0 = System.nanoTime()
      var stops: Map[String, Long] =
        graft.sources.StatusLiveSource.readStops(part(dirS).toString)
      var census: Seq[String] =
        graft.sources.StatusLiveSource.readSubjects(part(dirC).toString)
      val wallRead = (System.nanoTime() - t0) / 1e9
      val h2 = usedMb()
      require(stops.size == nTokens && census.length == nTokens)
      println(f"[liveprobe] fleet-as-big-data (10M tokens): cluster-staged ${stagedMb}MB " +
        f"in $wallStage%.1f s, driver heap ${h1 - h0}%+d MB through staging (flat); " +
        f"planner consume $wallRead%.1f s, ${h2 - h1}%+d MB — the per-token map itself " +
        "(the reference's own loop state, paid only at load())")
      // ── section 10 (r15): the O(groups) RANGED plan over the SAME 10M
      // staged tokens — `censusRanges` replaces the materialized map with
      // one byte range per group (tasks read their own slices), so the
      // driver's planning state must be offsets, not tokens
      stops = null
      census = null
      val h3 = usedMb() // the map released: the ranged pass starts clean
      t0 = System.nanoTime()
      val ranges = graft.sources.StatusLiveSource.planCensusRanges(
        part(dirC).toString, Some(part(dirS).toString), 64)
      val wallRanged = (System.nanoTime() - t0) / 1e9
      val h4 = usedMb()
      require(ranges.length == 64, s"expected 64 ranges, got ${ranges.length}")
      println(f"[liveprobe] ranged census plan (same 10M tokens, 64 groups): " +
        f"$wallRanged%.1f s, driver heap ${h4 - h3}%+d MB (offsets only) vs the " +
        f"materialized map's ${h2 - h1}%+d MB — the load() state is O(groups)")
      Seq(dirS, dirC).foreach { d =>
        java.nio.file.Files.list(d).iterator().asScala.toSeq
          .foreach(java.nio.file.Files.deleteIfExists(_))
        java.nio.file.Files.deleteIfExists(d)
      }
    }

    // ── section 8: sliced-PIT parallel whole-window scan vs the
    // sequential page loop — the UNFILTERED (subject-less) read, which is
    // ONE task without slices. Same corpus, same stub, same page size;
    // slices=8 drains 8 disjoint server-side slices concurrently. The
    // loopback stub serves both shapes from memory, so the ratio bounds
    // CLIENT-STACK parallelism (page loop + decode), not server fan-out —
    // a real 100 TB cluster adds the server side's own parallel gains on
    // top.
    {
      val n = 1000000
      val probeDocs: IndexedSeq[graft.queries.LiveQueries.StubDoc] =
        (0 until n).map { i =>
          val subj = (i % 64).toString
          val tsu = 1704000000000000L + i.toLong * 1000
          val json = statusJson(s"s$i", subj, tsu, "v2.0", s"""{"i":$i}""")
          graft.queries.LiveQueries.StubDoc(f"s$i%07d", subj, tsu, json)
        }
      val server = startStub(probeDocs, StubModes(pitMode = true))
      try {
        // an expression aggregate over `data` forces the ROW path (a bare
        // count() would be answered by the pushed-COUNT probe in one
        // size-0 request — no documents would flow at all)
        val expected = (0L until n).sum
        def read(slices: Int): Long = spark.read.format("graft-status-live")
          .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
          .option("batchSize", "1000")
          .option("slices", slices.toString)
          .load()
          .select(get_json_object(col("data"), "$.i").cast("long").as("i"))
          .agg(sum(col("i"))).head().getLong(0)
        read(8) // warm
        def time(slices: Int): Double = {
          val t0 = System.nanoTime()
          val got = read(slices)
          require(got == expected, s"sliced read lost rows: sum $got != $expected")
          (System.nanoTime() - t0) / 1e9
        }
        val seq1 = time(1)
        val par8 = time(8)
        println(f"[liveprobe] sliced whole-window scan ($n docs, page 1000, full decode): " +
          f"sequential loop $seq1%.2f s vs slices=8 $par8%.2f s " +
          f"(${seq1 / par8}%.1fx end-to-end speedup; a real cluster adds the server side's own)")
      } finally server.stop(0)
    }

    // ── section 9 (r15): HOT-SUBJECT sliced drain vs the sequential
    // per-subject loop — the SUBJECT-CONSTRAINED scan, where parallelism
    // used to be bounded by the subject count: one deep-history device
    // drained through one loop while every other task idled. One hot
    // subject (500k docs) among 63 cold ones (1k each); slices=1 keeps
    // all loops sequential-per-subject, slices=8 fans the hot subject's
    // window across 8 sliced-PIT tasks over one shared snapshot (the
    // terms probe plans it; cold subjects keep their loops either way).
    {
      val hotN = 500000
      val coldSubjects = 63
      val coldN = 1000
      val probeDocs: IndexedSeq[graft.queries.LiveQueries.StubDoc] = {
        def doc(subj: String, i: Int, ord: Int): graft.queries.LiveQueries.StubDoc = {
          val tsu = 1704000000000000L + ord.toLong * 1000
          graft.queries.LiveQueries.StubDoc(f"h$ord%07d", subj, tsu,
            statusJson(s"h$ord", subj, tsu, "v2.0", s"""{"i":$i}"""))
        }
        ((0 until hotN).map(i => doc("hot", i, i)) ++
          (0 until coldSubjects).flatMap(s =>
            (0 until coldN).map(i => doc(s"c$s", i, hotN + s * coldN + i)))).toIndexedSeq
      }
      val subjects = "hot" +: (0 until coldSubjects).map(s => s"c$s")
      val expected = (0L until hotN).sum + coldSubjects.toLong * (0L until coldN).sum
      withServer(startStub(probeDocs, StubModes(pitMode = true))) { url =>
        def read(slices: Int): Long = spark.read.format("graft-status-live")
          .option("url", url)
          .option("batchSize", "1000")
          .option("slices", slices.toString)
          .load()
          .where(col("subject").isin(subjects: _*))
          .select(get_json_object(col("data"), "$.i").cast("long").as("i"))
          .agg(sum(col("i"))).head().getLong(0)
        read(8) // warm
        def time(slices: Int): Double = {
          val t0 = System.nanoTime()
          val got = read(slices)
          require(got == expected, s"hot-subject read lost rows: sum $got != $expected")
          (System.nanoTime() - t0) / 1e9
        }
        val seq1 = time(1)
        val par8 = time(8)
        println(f"[liveprobe] hot-subject drain ($hotN hot + ${coldSubjects * coldN} cold docs, " +
          f"page 1000, full decode): per-subject loops $seq1%.2f s vs slices=8 $par8%.2f s " +
          f"(${seq1 / par8}%.1fx — the hot device no longer serializes the scan)")
      }
    }

    // ── section 11 (r16): the HOT-LIST under the RANGED census — the
    // mega-fleet composition. Byte-range groups are equal-SUBJECT-count
    // and never probe for hot devices, so one whale's history lands
    // whole in its tile and the tile IS the scan's wall clock.
    // `hotSubjectsPath` carves the whale out of its tile at planning
    // (on the walks the planner already makes) and drains it through
    // the sliced-PIT path. Same corpus, same staged files, same stub;
    // the only change is the option.
    {
      val coldSubjects = 2000
      val coldN = 250
      val whaleN = 250000
      val probeDocs: IndexedSeq[graft.queries.LiveQueries.StubDoc] = {
        def doc(subj: String, i: Int, ord: Int): graft.queries.LiveQueries.StubDoc = {
          val tsu = 1704000000000000L + ord.toLong * 1000
          graft.queries.LiveQueries.StubDoc(f"r$ord%07d", subj, tsu,
            statusJson(s"r$ord", subj, tsu, "v2.0", s"""{"i":$i}"""))
        }
        ((0 until whaleN).map(i => doc("whale", i, i)) ++
          (0 until coldSubjects).flatMap(s =>
            (0 until coldN).map(i => doc(f"v$s%05d", i, whaleN + s * coldN + i)))).toIndexedSeq
      }
      val census = ((0 until coldSubjects).map(s => f"v$s%05d") :+ "whale").sorted
      val cFile = java.nio.file.Files.createTempFile("graft-probe11-census", ".txt")
      val hFile = java.nio.file.Files.createTempFile("graft-probe11-hot", ".txt")
      graft.sources.StatusLiveSource.writeSubjects(census, cFile.toString)
      graft.sources.StatusLiveSource.writeSubjects(Seq("whale"), hFile.toString)
      val expected = (0L until whaleN).sum + coldSubjects.toLong * (0L until coldN).sum
      val server = startStub(probeDocs, StubModes(pitMode = true))
      try {
        def read(hotList: Boolean): Long = {
          var r = spark.read.format("graft-status-live")
            .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
            .option("batchSize", "1000")
            .option("subjectsPath", cFile.toString)
            .option("censusRanges", "32")
            .option("slices", "8")
          if (hotList) r = r.option("hotSubjectsPath", hFile.toString)
          r.load()
            .select(get_json_object(col("data"), "$.i").cast("long").as("i"))
            .agg(sum(col("i"))).head().getLong(0)
        }
        read(hotList = true) // warm
        def time(hotList: Boolean): Double = {
          val t0 = System.nanoTime()
          val got = read(hotList)
          require(got == expected, s"ranged hot-list read lost rows: sum $got != $expected")
          (System.nanoTime() - t0) / 1e9
        }
        val plain = time(hotList = false)
        val hot = time(hotList = true)
        println(f"[liveprobe] ranged census + whale ($whaleN-doc whale in a " +
          f"$coldSubjects-subject fleet, 32 groups, page 1000, full decode): " +
          f"equal-count tiles $plain%.2f s vs hotSubjectsPath + slices=8 $hot%.2f s " +
          f"(${plain / hot}%.1fx — the whale no longer straggles its byte-range group)")
      } finally {
        server.stop(0)
        java.nio.file.Files.deleteIfExists(cFile)
        java.nio.file.Files.deleteIfExists(hFile)
      }
    }

    // ── section 12 (r16): PIT-LESS parallel drain via TIME-WINDOW CUTS —
    // the same whole-window scan as §8 but against a server WITHOUT the
    // point-in-time endpoint (an ES 7 posture): sliced-PIT cannot plan,
    // so the window tiles at the server's own time percentiles instead
    // (filter-disjoint half-open sub-ranges; no snapshot to tear). The
    // comparison is the shape that used to be forced (one sequential
    // loop) vs the tiled plan, same corpus, same page size.
    {
      val n = 1000000
      val probeDocs: IndexedSeq[graft.queries.LiveQueries.StubDoc] =
        (0 until n).map { i =>
          val subj = (i % 64).toString
          val tsu = 1704000000000000L + i.toLong * 1000
          val json = statusJson(s"w$i", subj, tsu, "v2.0", s"""{"i":$i}""")
          graft.queries.LiveQueries.StubDoc(f"w$i%07d", subj, tsu, json)
        }
      val server = startStub(probeDocs, StubModes(pitMode = false))
      try {
        val expected = (0L until n).sum
        def read(slices: Int): Long = spark.read.format("graft-status-live")
          .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
          .option("batchSize", "1000")
          .option("slices", slices.toString)
          .load()
          .select(get_json_object(col("data"), "$.i").cast("long").as("i"))
          .agg(sum(col("i"))).head().getLong(0)
        read(8) // warm
        def time(slices: Int): Double = {
          val t0 = System.nanoTime()
          val got = read(slices)
          require(got == expected, s"window-cut read lost rows: sum $got != $expected")
          (System.nanoTime() - t0) / 1e9
        }
        val seq1 = time(1)
        val cut8 = time(8)
        println(f"[liveprobe] PIT-less window cuts ($n docs, page 1000, full decode): " +
          f"sequential loop $seq1%.2f s vs 8 time tiles $cut8%.2f s " +
          f"(${seq1 / cut8}%.1fx on an ES-7-posture server — no snapshot required)")
      } finally server.stop(0)
    }

    // ── section 13 (r17): LOAD-BALANCED ranged groups — skew the
    // hot-list does not name. A fleet where device age correlates with
    // history depth (older ids sort first AND run deeper — a common
    // real shape) packs its heavy subjects into the FIRST equal-count
    // byte-range groups, and the heaviest group is the scan's wall
    // clock; no single subject is whale-sized, so `hotSubjectsPath`
    // has nothing to carve. `censusWeightsPath` (each subject's depth,
    // the file `runLiveRanged(weightBySinkDepth=true)` stages) moves
    // the boundaries to equal cumulative weight. Same corpus, same
    // staged census, same stub; the only change is the weights option.
    {
      val heavies = (0 until 16).map(i => f"a$i%02d")     // sort FIRST
      val lights = (0 until 1984).map(i => f"v$i%05d")
      val heavyN = 4000
      val lightN = 150
      val probeDocs: IndexedSeq[graft.queries.LiveQueries.StubDoc] = {
        var ord = -1
        def doc(subj: String, i: Int): graft.queries.LiveQueries.StubDoc = {
          ord += 1
          val tsu = 1704000000000000L + ord.toLong * 1000
          graft.queries.LiveQueries.StubDoc(f"b$ord%07d", subj, tsu,
            statusJson(s"b$ord", subj, tsu, "v2.0", s"""{"i":$ord}"""))
        }
        (heavies.flatMap(s => (0 until heavyN).map(doc(s, _))) ++
          lights.flatMap(s => (0 until lightN).map(doc(s, _)))).toIndexedSeq
      }
      val census = (heavies ++ lights).sorted
      val cFile = java.nio.file.Files.createTempFile("graft-probe13-census", ".txt")
      val wFile = java.nio.file.Files.createTempFile("graft-probe13-weights", ".txt")
      graft.sources.StatusLiveSource.writeSubjects(census, cFile.toString)
      java.nio.file.Files.write(wFile, census.map(s =>
        s"$s\t${if (s.startsWith("a")) heavyN else lightN}")
        .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val total = heavies.size.toLong * heavyN + lights.size.toLong * lightN
      val expected = (0L until total).sum
      val server = startStub(probeDocs, StubModes(pitMode = true))
      try {
        def read(weighted: Boolean): Long = {
          var r = spark.read.format("graft-status-live")
            .option("url", s"http://127.0.0.1:${server.getAddress.getPort}")
            .option("batchSize", "1000")
            .option("subjectsPath", cFile.toString)
            .option("censusRanges", "32")
          if (weighted) r = r.option("censusWeightsPath", wFile.toString)
          r.load()
            .select(get_json_object(col("data"), "$.i").cast("long").as("i"))
            .agg(sum(col("i"))).head().getLong(0)
        }
        read(weighted = true) // warm
        def time(weighted: Boolean): Double = {
          val t0 = System.nanoTime()
          val got = read(weighted)
          require(got == expected, s"weighted ranged read lost rows: sum $got != $expected")
          (System.nanoTime() - t0) / 1e9
        }
        val plain = time(weighted = false)
        val weighted = time(weighted = true)
        println(f"[liveprobe] weighted ranged groups (16 heavy x $heavyN + 1984 light x " +
          f"$lightN docs, heavies sort first, 32 groups, page 1000, full decode): " +
          f"equal-count tiles $plain%.2f s vs equal-weight tiles $weighted%.2f s " +
          f"(${plain / weighted}%.1fx — the straggler group was the scan's wall clock)")
      } finally {
        server.stop(0)
        java.nio.file.Files.deleteIfExists(cFile)
        java.nio.file.Files.deleteIfExists(wFile)
      }
    }
    spark.stop()
  }
}
