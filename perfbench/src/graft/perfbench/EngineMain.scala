package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{SyncJob, SyncOptions}
import graft.ops.SyncOps
import graft.schema.SignalDefinitions
import graft.sources.{DeviceDim, EsHttpClient, SignalSink}

/** The engine side of one benchmark run: one JVM at `local[nproc]`
  * driving the engine only through its public calls (`SyncJob.runLive`,
  * `SignalSink.appendParquet`/`readParquet`, `SyncOps.watermarks`,
  * `EsHttpClient.pagedDocs`).
  *
  * Usage: `EngineMain <workload> <seed> <seconds> <trace 0|1> <runDir> <phase>`.
  * Every phase prints `PB_SETUP_DONE` once the session is up and the ES
  * double answers. Phase `run` then warms up, runs closed-loop
  * operations for `seconds` and prints one `PB_RESULT <json>` line.
  * Phase `prepare` writes resume's store snapshot into `runDir` with
  * `SignalSink.appendParquet`, so the measuring JVM starts cold; phase
  * `setup` only times the set-up. Both print `PB_PREPARED` and exit.
  * Every phase exits when its standard input closes, so it never
  * outlives the benchmark.
  */
object EngineMain {

  final case class Op(wallMs: Double, cpuMs: Double, error: Option[String],
      layers: Map[String, Double])

  private val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, runDirArg, phase) = args
    val seed = seedArg.toLong
    val runDir = Paths.get(runDirArg)
    val watchdog = new Thread(() => {
      while (System.in.read() != -1) ()
      Runtime.getRuntime.halt(3)
    }, "stdin-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    val spark = session(runDir)
    val ctl = awaitStub(runDir)
    note("set-up done")
    println("PB_SETUP_DONE")
    System.out.flush()
    if (phase != "run") {
      try if (phase == "prepare")
        Bench.writeSnapshot(spark, Gen.corpus(workload, seed), runDir.resolve("snapshot"))
      finally spark.stop()
      note(s"$phase done")
      println("PB_PREPARED")
      System.out.flush()
      sys.exit(0)
    }
    val corpus = Gen.corpus(workload, seed)

    val mapper = new ObjectMapper()
    val out = mapper.createObjectNode()
    try {
      val tracer = new Tracer(spark, traceArg == "1")
      new Bench(spark, workload, seed, corpus, runDir, ctl, tracer).run(secondsArg.toDouble, out)
      tracer.write(runDir.resolve("trace.json"), Map("workload" -> workload, "seed" -> seed))
      hostFacts(spark, out.putObject("host"))
    } catch {
      case e: Throwable =>
        out.put("fatal", s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally spark.stop()
    note("session stopped")
    out.put("rss_peak_kb", peakRssKb())
    println("PB_RESULT " + mapper.writeValueAsString(out))
    System.out.flush()
    sys.exit(0)
  }

  def session(runDir: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(n)
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", runDir.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Waits for the ES double's port file, then for its counter endpoint. */
  private def awaitStub(runDir: Path): StubCtl = {
    val portFile = runDir.resolve("stub.port")
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(portFile)) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("ES double did not start")
      Thread.sleep(5)
    }
    val ctl = new StubCtl(s"http://127.0.0.1:${Files.readString(portFile).trim}")
    ctl.counters()
    ctl
  }

  /** Heap still live after full collections plus non-heap in use
    * (metaspace, code cache): the memory the program holds, whatever
    * heap size the collector chose. Spark's cleaner frees broadcast and
    * shuffle state only after a collection has found it unreachable, so
    * this collects until the heap stops shrinking.
    */
  def liveMemoryMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def heapMb(): Double = { System.gc(); m.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = heapMb()
    Thread.sleep(200)
    var heap = heapMb()
    var i = 0
    while (prev - heap > 1.0 && i < 10) {
      Thread.sleep(200)
      prev = heap
      heap = heapMb()
      i += 1
    }
    heap + m.getNonHeapMemoryUsage.getUsed / 1048576.0
  }

  private def peakRssKb(): Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }

  private def hostFacts(spark: SparkSession, o: ObjectNode): Unit = {
    o.put("nproc", Runtime.getRuntime.availableProcessors())
    o.put("max_heap_mb", Runtime.getRuntime.maxMemory() / (1024 * 1024))
    o.put("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}")
    o.put("spark", spark.version)
    o.put("scala", scala.util.Properties.versionNumberString)
    o.put("master", spark.sparkContext.master)
  }

  def cpuMs(): Double = cpuBean.getProcessCpuTime / 1e6

  private val started = System.nanoTime()

  /** A progress line with the JVM's age, on stderr (the run log). */
  def note(msg: String): Unit =
    System.err.println(f"[engine +${(System.nanoTime() - started) / 1e9}%.2fs] $msg")
}

/** The counter endpoint of the ES double. */
final class StubCtl(val url: String) {
  private val mapper = new ObjectMapper()
  def counters(): Map[String, Double] = {
    val conn = new java.net.URL(s"$url/__bench/counters").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      val n = mapper.readTree(conn.getInputStream)
      Map("es.requests" -> n.get("requests").asDouble(), "es.docs_served" -> n.get("docs").asDouble(),
        "es.bytes_served" -> n.get("bytes").asDouble(), "stub.cpu_ms" -> n.get("cpu_ns").asDouble() / 1e6)
    } finally conn.disconnect()
  }
}

/** The three workloads. Every operation is checked against the
  * generator's oracle after it returns; the check is not timed.
  */
final class Bench(spark: SparkSession, workload: String, seed: Long, corpus: Gen.Corpus,
    runDir: Path, ctl: StubCtl, tr: Tracer) {
  import EngineMain.{cpuMs, Op}

  private val shape = corpus.shape
  private val defs = shape.defs
  private val dim = DeviceDim.identityDim(spark, corpus.tokens)
  private val opts = SyncOptions(tokens = corpus.tokens.map(_.toString),
    signalNames = shape.signalNames,
    start = Some(new java.sql.Timestamp(Gen.StartMs)),
    stop = Some(new java.sql.Timestamp(Gen.StopMs)))
  private val esUrl = ctl.url
  private val snapshotDir = runDir.resolve("snapshot")

  // ── sync rounds ───────────────────────────────────────────────────────

  /** The docs a round must fetch, and the rows it must add. */
  private val syncedDocs = if (workload == "resume") corpus.older else corpus.docs
  private val expectedAdded = Gen.summarize(syncedDocs.flatMap(Gen.rows(_, defs)))

  /** A store a round wrote: the parquet files the round added, and
    * whether the files the store started with are still there unchanged.
    */
  private[perfbench] final case class Written(store: Path, added: Seq[String], kept: Boolean)
  private[perfbench] val written = mutable.ArrayBuffer.empty[Written]

  private def existing(store: Path): Option[DataFrame] =
    if (workload == "resume") Some(SignalSink.readParquet(spark, store.toString)) else None

  /** One round into its own store: `runLive` (after reading the store,
    * for resume) and the append. The store starts empty, or for resume
    * as a copy of the snapshot; neither is timed. Traced runs add the
    * per-layer counts of the round, taken outside the timed part. The
    * store is checked later, in one batch ([[checkStores]]).
    */
  private[perfbench] def syncOp(store: Path): Op = tr.span("sync_op") {
    deleteTree(store)
    if (workload == "resume") copyTree(snapshotDir, store)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val before = if (tr.enabled) tr.snapshot() ++ ctl.counters() else Map.empty[String, Double]
    val filesBefore = parquetFiles(store)
    val c0 = cpuMs()
    val t0 = System.nanoTime()
    var t1, t2 = 0L
    tr.span("round") {
      val sink = tr.span("readParquet")(existing(store))
      t1 = System.nanoTime()
      val out = tr.span("runLive")(SyncJob.runLive(spark, esUrl, dim, sink, opts,
        batchSize = Gen.BatchSize))
      t2 = System.nanoTime()
      tr.span("appendParquet")(SignalSink.appendParquet(out, store.toString))
    }
    val t3 = System.nanoTime()
    val cpu = cpuMs() - c0
    val filesAfter = parquetFiles(store)
    val added = filesAfter -- filesBefore.keySet
    written += Written(store, added.keys.toSeq.sorted,
      filesBefore.forall { case (f, n) => filesAfter.get(f).contains(n) })
    if (tr.enabled) {
      val after = tr.snapshot() ++ ctl.counters()
      after.foreach { case (k, v) => layers(k) = v - before(k) }
      layers("sync.runlive_ms") = (t2 - t1) / 1e6
      layers("sink.append_ms") = (t3 - t2) / 1e6
      layers("sink.files_written") = added.size
      layers("sink.bytes_written") = added.values.sum.toDouble
      layers("es.docs_served_per_doc_synced") = layers("es.docs_served") / syncedDocs.size
      layers.foreach { case (k, v) => tr.count(k, v) }
    }
    Op((t3 - t0) / 1e6, cpu, None, layers.toMap)
  }

  /** Layer probes, run after the measured loop so that they give the
    * measured rounds no extra warm-up: `runLive`'s DataFrame into the
    * `noop` sink (read + explode, no store write), the watermark
    * aggregate over the store, and the wire floor. Resume probes a fresh
    * copy of the snapshot, backfill the store its last round wrote. Each
    * probe runs [[ProbeRepeats]] times; the median is reported.
    */
  private def probeLayers(store: Path): Map[String, Double] = {
    val runs = (1 to ProbeRepeats).map(_ => probes(store) + ("es.wire_floor_ms" -> wireFloorMs()))
    runs.head.keys.map { k =>
      val vs = runs.map(_(k)).sorted
      k -> vs(vs.size / 2)
    }.toMap
  }

  private val ProbeRepeats = 3

  private def probes(store: Path): Map[String, Double] = {
    def ms(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
    val scan = tr.span("probe.scan_explode")(ms {
      SyncJob.runLive(spark, esUrl, dim, existing(store), opts, batchSize = Gen.BatchSize)
        .write.format("noop").mode("overwrite").save()
    })
    val wm = tr.span("probe.watermark")(ms {
      SyncOps.watermarks(SignalSink.readParquet(spark, store.toString),
        defs.map(_.vssName).filter(_ => shape.signalNames.nonEmpty))
        .write.format("noop").mode("overwrite").save()
    })
    Map("sync.scan_explode_ms" -> scan, "sync.watermark_ms" -> wm)
  }

  /** Serial drain of the round's window through `EsHttpClient.pagedDocs`,
    * one thread: backfill reads the whole window, resume each token's
    * window below its oldest synced signal.
    */
  private def wireFloorMs(): Double = tr.span("probe.wire_floor") {
    val client = new EsHttpClient(esUrl)
    val required = if (shape.signalNames.isEmpty) Nil
      else SignalDefinitions.requiredSourceFields(defs)
    val windows: Seq[(Option[String], Long)] =
      if (workload == "resume")
        corpus.newer.groupBy(_.subject).toSeq.map { case (s, ds) => (Some(s), ds.map(_.timeMs).min) }
      else Seq((None, Gen.StopMs))
    val t0 = System.nanoTime()
    var n = 0L
    windows.foreach { case (subject, stop) =>
      val src = client.pagedDocs(Gen.Index, Gen.BatchSize, Gen.StartMs, stop, subject, required)
      try { while (src.next() != null) n += 1 } finally src.close()
    }
    val ms = (System.nanoTime() - t0) / 1e6
    require(n == syncedDocs.size, s"wire floor drained $n docs, expected ${syncedDocs.size}")
    ms
  }

  // ── checks ────────────────────────────────────────────────────────────

  private[perfbench] def storeDir(tag: String): Path = runDir.resolve("stores").resolve(tag)

  /** Checks what each round added: per store, the (token, name) summary
    * of the added rows must equal the generator's for the docs the round
    * had to sync, and the files the store started with must be untouched.
    * The added files of all stores are summarized in one Spark job, read
    * by path with the plain parquet source, not with the sink's reader.
    * Returns each store's error, if any, and the number of rows added.
    */
  private[perfbench] def checkStores(ws: Seq[Written]): Seq[(Option[String], Long)] =
    tr.span("check") {
      val storeOf = ws.zipWithIndex.flatMap { case (w, i) =>
        w.added.map(f => Paths.get(f).toUri.getPath -> i) }.toMap
      val got = Array.fill(ws.size)(Map.empty[(Long, String), Gen.Summary])
      // Spark lists more than a threshold of paths with a job of one task
      // per path, which costs more than the check itself: list in-process
      val listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      val saved = spark.conf.getOption(listing)
      spark.conf.set(listing, Int.MaxValue.toString)
      try if (storeOf.nonEmpty)
        spark.read.parquet(storeOf.keys.toSeq: _*)
          .groupBy(input_file_name().as("file"), col("tokenId"), col("name"))
          .agg(count(lit(1)), sum("valueNumber"), min("timestamp"), max("timestamp"),
            sum(length(col("valueString"))), sum(length(col("source"))))
          .collect().foreach { r =>
            val i = storeOf(new java.net.URI(r.getString(0)).getPath)
            got(i) = Gen.merge(got(i), Map((r.getLong(1), r.getString(2)) -> Gen.Summary(r.getLong(3),
              r.getDouble(4), r.getTimestamp(5).getTime, r.getTimestamp(6).getTime, r.getLong(7),
              r.getLong(8))))
          }
      finally saved.fold(spark.conf.unset(listing))(spark.conf.set(listing, _))
      ws.zip(got).map { case (w, g) =>
        val err =
          if (!w.kept) Some(s"the round changed or removed files ${w.store} started with")
          else compare(g, expectedAdded)
        (err, g.values.map(_.n).sum)
      }
    }

  private def compare(got: Map[(Long, String), Gen.Summary],
      expected: Map[(Long, String), Gen.Summary]): Option[String] =
    if (got.size != expected.size)
      Some(s"store has ${got.size} (token, name) groups, expected ${expected.size}")
    else got.collectFirst {
      case (key, g) if !expected.get(key).exists(e => g.n == e.n && g.minMs == e.minMs &&
          g.maxMs == e.maxMs && g.strLen == e.strLen && g.srcLen == e.srcLen && close(g.sum, e.sum)) =>
        s"group $key: got $g, expected ${expected.get(key)}"
    }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  // ── signal reads ──────────────────────────────────────────────────────

  private lazy val readStore = storeDir("read")
  private lazy val rowsByToken: Map[Long, IndexedSeq[Gen.Row]] =
    corpus.docs.flatMap(Gen.rows(_, defs)).groupBy(_.token).view
      .mapValues(_.sortBy(r => (r.timeMs, r.name)).toIndexedSeq).toMap
  private lazy val byName: Map[String, Gen.Summary] =
    rowsByToken.values.flatten.groupBy(_.name).view
      .mapValues(_.foldLeft(Gen.EmptySummary)(_ + _)).toMap
  private val qrng = new SplittableRandom(seed ^ 0x5eedL)
  private val QueryKinds =
    IndexedSeq("oldest_signal", "distinct_tokens", "latest_n", "token_window", "fleet_by_name")
  private val LatestN = 10
  private val WindowMs = 12L * 3600 * 1000

  /** One query of the mix, materialized, then checked. */
  private def queryOp(i: Int): Op = {
    val kind = QueryKinds(i % QueryKinds.size)
    val token = corpus.tokens(qrng.nextInt(corpus.tokens.size))
    val name = defs(qrng.nextInt(defs.size)).vssName
    val span = shape.newerDays * Gen.DayMs
    val from = Gen.StopMs - span + qrng.nextLong(span - WindowMs)
    val before = tr.snapshot()
    val c0 = cpuMs()
    val t0 = System.nanoTime()
    val got = tr.span(s"query.$kind") {
      val s = SignalSink.readParquet(spark, readStore.toString)
      val t = col("tokenId") === token
      (kind match {
        case "oldest_signal" =>
          s.where(t).orderBy(col("timestamp").asc).limit(1).select("timestamp")
        case "distinct_tokens" => s.select("tokenId").distinct()
        case "latest_n" =>
          s.where(t && col("name") === name).orderBy(col("timestamp").desc).limit(LatestN)
            .select("timestamp", "valueNumber", "valueString")
        case "token_window" =>
          s.where(t && col("timestamp") >= lit(new java.sql.Timestamp(from)) &&
            col("timestamp") < lit(new java.sql.Timestamp(from + WindowMs)))
        case _ =>
          s.groupBy("name").agg(count(lit(1)), sum("valueNumber"), min("timestamp"), max("timestamp"))
      }).collect()
    }
    val wall = (System.nanoTime() - t0) / 1e6
    val cpu = cpuMs() - c0
    val layers = tr.snapshot().map { case (k, v) => k -> (v - before(k)) }
    val rows = rowsByToken(token)
    def ms(r: org.apache.spark.sql.Row, i: Int) = r.getTimestamp(i).getTime
    val ok: Boolean = kind match {
      case "oldest_signal" => got.length == 1 && ms(got(0), 0) == rows.map(_.timeMs).min
      case "distinct_tokens" => got.map(_.getLong(0)).sorted.toSeq == corpus.tokens
      case "latest_n" =>
        val exp = rows.filter(_.name == name).sortBy(-_.timeMs).take(LatestN)
          .map(r => (r.timeMs, r.valueNumber, r.valueString))
        got.map(r => (ms(r, 0), r.getDouble(1), r.getString(2))).toSeq == exp
      case "token_window" =>
        val exp = rows.filter(r => r.timeMs >= from && r.timeMs < from + WindowMs)
          .map(r => (r.token, r.timeMs, r.name, r.valueNumber, r.valueString, r.source)).sorted
        got.map(r => (r.getLong(0), ms(r, 1), r.getString(2), r.getDouble(3), r.getString(4),
          r.getString(5))).toSeq.sorted == exp
      case _ =>
        got.length == byName.size && got.forall { r =>
          val e = byName(r.getString(0))
          r.getLong(1) == e.n && close(r.getDouble(2), e.sum) &&
            ms(r, 3) == e.minMs && ms(r, 4) == e.maxMs
        }
    }
    Op(wall, cpu, if (ok) None else Some(s"$kind(token=$token, name=$name) returned a wrong result"),
      layers)
  }

  // ── the run ───────────────────────────────────────────────────────────

  /** The loop runs past its time until it has at least this many
    * operations: about the rounds that fit in 10 to 12 s on a 4-vCPU
    * host. The measured rounds are still getting faster, so a run that
    * fitted one round fewer would report a slower median; with the
    * floor, a slower host still measures the same rounds.
    */
  private val MinOps = Map("backfill" -> 6, "resume" -> 4, "signal_reads" -> 4)

  /** Sync rounds run before the measured ones: the cold round and the
    * first warm one, both far slower than the rest. Rounds keep getting
    * faster for about 20 rounds while the JIT compiles the engine's hot
    * paths, which no run has time for; the measured rounds are the warm
    * ones a Job of a few minutes runs (METRICS.md records the curve).
    */
  private val WarmRounds = Map("backfill" -> 2, "resume" -> 2)

  /** Warm-up, then closed-loop operations for `seconds`. Every operation
    * run, warm-up and cold round included, is checked and reported; the
    * metrics use the measured ones. Sync stores are checked after the
    * loop in one batch, so checking does not eat into the measured time.
    * Traced runs probe the layers after the loop, so traced and untraced
    * measured rounds differ only by the listeners.
    */
  def run(seconds: Double, out: ObjectNode): Unit = {
    val onceLayers = mutable.LinkedHashMap.empty[String, Double]
    val warm = mutable.ArrayBuffer.empty[Op]
    val next: Int => Op = workload match {
      case "backfill" | "resume" =>
        if (workload == "resume")
          require(Files.exists(snapshotDir.resolve("_SUCCESS")), s"no store snapshot in $snapshotDir")
        (0 until WarmRounds(workload)).foreach(i => warm += syncOp(storeDir(s"w$i")))
        i => syncOp(storeDir(s"m$i"))
      case _ =>
        // the store the sync workloads write, written once by the sink from
        // this seed's corpus; traced runs also sync the corpus once from the
        // double, into a store of its own, for the sync-layer metrics
        SignalSink.appendParquet(Bench.signalFrame(spark, corpus.docs.flatMap(Gen.rows(_, defs))),
          readStore.toString)
        written += Written(readStore, parquetFiles(readStore).keys.toSeq.sorted, kept = true)
        val sync = if (tr.enabled) Some(syncOp(storeDir("sync"))) else None
        val checked = checkStores(written.toSeq)
        checked.flatMap(_._1).headOption.foreach(e =>
          throw new IllegalStateException(s"set-up wrote a wrong store: $e"))
        sync.foreach { op =>
          onceLayers ++= op.layers
          onceLayers ++= probeLayers(storeDir("sync"))
          onceLayers("explode.rows_per_doc") = checked.last._2.toDouble / syncedDocs.size
        }
        written.foreach(w => if (w.store != readStore) deleteTree(w.store))
        written.clear()
        QueryKinds.indices.foreach(i => warm += queryOp(i))
        queryOp
    }
    // the first operation in this JVM: a cold round, or the first query
    out.put("cold_ms", warm.head.wallMs)
    EngineMain.note(s"warm-up done: ${warm.size} operations")
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    // signal_reads stops on a whole pass of the query mix, so every run
    // measures the same mix
    val pass = if (workload == "signal_reads") QueryKinds.size else 1
    while ((System.nanoTime() - t0) / 1e9 < seconds || ops.size < MinOps(workload) || ops.size % pass != 0)
      ops += next(ops.size)
    out.put("measured_s", (System.nanoTime() - t0) / 1e9)
    EngineMain.note(s"measured ${ops.size} operations")
    out.put("mem_live_mb", EngineMain.liveMemoryMb())
    out.put("docs_per_round", syncedDocs.size)
    if (tr.enabled && workload != "signal_reads") {
      val store =
        if (workload == "backfill") written.last.store
        else { val s = storeDir("probe"); deleteTree(s); copyTree(snapshotDir, s); s }
      onceLayers ++= probeLayers(store)
      if (workload == "resume") deleteTree(store)
    }

    // sync stores: checked now, in the order they were written
    EngineMain.note("checking stores")
    val checked = checkStores(written.toSeq)
    EngineMain.note(s"checked ${checked.size} stores")
    written.foreach(w => deleteTree(w.store))
    val all = (warm ++ ops).zipWithIndex.map { case (op, k) =>
      checked.lift(k) match {
        case Some((err, rows)) =>
          val layers = if (!tr.enabled) op.layers
            else op.layers + ("explode.rows_per_doc" -> rows.toDouble / syncedDocs.size)
          op.copy(error = err, layers = layers)
        case None => op
      }
    }
    out.put("warm_ops", warm.size)
    val arr = out.putArray("ops")
    all.foreach { op =>
      val o = arr.addObject()
      o.put("ms", op.wallMs); o.put("cpu_ms", op.cpuMs)
      op.error.foreach(o.put("error", _))
    }
    if (tr.enabled) {
      val measured = all.drop(warm.size)
      val layers = out.putObject("layers")
      // the median over measured operations; the probes and signal_reads'
      // set-up sync are measured once per run, apart from the operations
      (measured.flatMap(_.layers.keys) ++ onceLayers.keys).distinct.foreach { k =>
        val vs = measured.flatMap(_.layers.get(k)).sorted
        layers.put(k, if (vs.nonEmpty) vs(vs.size / 2) else onceLayers(k))
      }
      // warm operations reuse the compiled code of their plans, so codegen
      // time is spent in the first operation: report that one
      layers.put("spark.codegen_ms", all.head.layers("spark.codegen_ms"))
      // GC pauses are sparse, most operations see none: report the mean
      layers.put("spark.gc_ms", measured.map(_.layers("spark.gc_ms")).sum / measured.size)
    }
  }

  // ── files ─────────────────────────────────────────────────────────────

  private def parquetFiles(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
          .map(p => p.toString -> Files.size(p)).toMap
      } finally s.close()
    }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.foreach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
    } finally s.close()
  }

  private def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    } finally s.close()
  }
}

object Bench {

  /** Signal rows as a DataFrame in the sink's column order. */
  def signalFrame(spark: SparkSession, rows: Seq[Gen.Row]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("tokenId", LongType), StructField("timestamp", TimestampType),
      StructField("name", StringType), StructField("valueNumber", DoubleType),
      StructField("valueString", StringType), StructField("source", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
      Row(r.token, new java.sql.Timestamp(r.timeMs), r.name, r.valueNumber, r.valueString,
        r.source)): _*), schema)
  }

  /** Resume's store snapshot: each token's newer history, written by
    * the sink itself, so that it always has the layout the rounds append.
    */
  def writeSnapshot(spark: SparkSession, corpus: Gen.Corpus, dir: Path): Unit =
    SignalSink.appendParquet(signalFrame(spark, corpus.newer.flatMap(Gen.rows(_, corpus.shape.defs))),
      dir.toString)
}
