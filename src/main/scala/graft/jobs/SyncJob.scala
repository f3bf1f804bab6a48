package graft.jobs

import java.sql.Timestamp
import java.time.Instant

import graft.ops.{SignalExplode, SyncOps}
import graft.schema.SignalDefinitions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType

/** Options mirroring the reference `internal/sync/options.go:9-27`.
  *
  * @param tokens      explicit token list (CSV-ish strings, whitespace
  *                    tolerated, bad entries skipped); empty ⇒ discover from
  *                    the sink (`sync.go:211-234`)
  * @param signalNames VSS signal filter; empty ⇒ all signals
  * @param start       inclusive lower time bound; None ⇒ stop − 1 month
  *                    (`sync.go:57-60`)
  * @param stop        exclusive upper time bound; None ⇒ now (`sync.go:54-56`)
  */
final case class SyncOptions(
    tokens: Seq[String] = Nil,
    signalNames: Seq[String] = Nil,
    start: Option[Timestamp] = None,
    stop: Option[Timestamp] = None
)

object SyncOptions {

  /** Build options from the reference's env-style settings surface
    * (`cmd/es-ch-sync/main.go:71-106`): CSV `TOKEN_IDS` (whitespace
    * tolerated), CSV `SIGNAL_NAMES`, RFC3339 `START_TIME` / `STOP_TIME`
    * (invalid or absent ⇒ the reference defaults: stop=now,
    * start=stop−1 month, applied inside [[SyncJob.run]]).
    */
  def fromConfig(settings: Map[String, String]): SyncOptions = {
    def csv(key: String): Seq[String] =
      settings.get(key).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    def rfc3339(key: String): Option[Timestamp] =
      settings.get(key).flatMap { s =>
        try Some(Timestamp.from(Instant.parse(s)))
        catch { case _: Exception => None }
      }
    SyncOptions(
      tokens = csv("TOKEN_IDS"),
      signalNames = csv("SIGNAL_NAMES"),
      start = rfc3339("START_TIME"),
      stop = rfc3339("STOP_TIME")
    )
  }
}

/** The full sync pipeline as one bounded Spark job — the reference's
  * per-vehicle pagination loops (`internal/sync/sync.go:53-160`) collapse
  * into: resolve token scope → per-token watermarks from the sink → one
  * bounded, pruned source scan → columnar signal explosion → append.
  *
  * Shuffle profile at scale: the only wide operation is the watermark
  * aggregate over the sink (keyed by tokenId, low cardinality); both joins
  * (dim, watermark) broadcast. Scan→explode→write is narrow, so the job
  * scales linearly with source bytes on any executor count.
  */
object SyncJob {

  def run(
      docs: DataFrame,
      dim: DataFrame,
      existingSink: Option[DataFrame],
      opts: SyncOptions = SyncOptions(),
      // live callers that already computed the per-token watermark table
      // (for wire-window staging) pass it here so the sink is scanned ONCE
      // per round instead of once per consumer (r18, guide §2.4/§5)
      precomputedWatermarks: Option[DataFrame] = None
  ): DataFrame = {
    val stop = opts.stop.getOrElse(Timestamp.from(Instant.now()))
    val start = opts.start.getOrElse {
      Timestamp.from(stop.toInstant.atZone(java.time.ZoneOffset.UTC).minusMonths(1).toInstant)
    }
    val defs = SignalDefinitions.resolve(opts.signalNames)

    val scopedDim = scopeDim(dim, existingSink, opts)

    val bounded = docs.where(SyncOps.timeBound(col("time"), start, stop))

    // Per-token incremental resume: drop rows at/after the sink watermark.
    val scoped = existingSink match {
      case Some(sink) =>
        SyncOps.applyWatermarks(bounded, scopedDim,
          precomputedWatermarks.getOrElse(SyncOps.watermarks(sink, watermarkNames(opts))))
      case None =>
        bounded.join(broadcast(scopedDim.select("tokenId", "subject")), Seq("subject"), "inner")
    }

    SignalExplode
      .explodeSignals(scoped, defs)
      .select("tokenId", "timestamp", "name", "valueNumber", "valueString", "source")
  }

  /** [[run]] with the documents read LIVE, so the incremental resume
    * pushes INTO the `_search` request bodies: the token census becomes
    * the pushed subject IN-set (one page loop per subject, grouped into
    * bounded tasks) and each token's watermark becomes its request
    * window's EXCLUSIVE stop — the reference's per-token EndTime
    * (sync.go:96-100 [ext]). Round 2 of a sync then ships only each
    * token's UNSYNCED PREFIX over the wire instead of re-downloading the
    * full window and filtering in the plan; with `signalNames` set, the
    * request also carries the `_source.includes`/`exists` projection.
    *
    * Fleet-scale transport: past [[PathModeThreshold]] tokens the census
    * and the watermark map are STAGED TO FILES the planner reads once
    * (`subjectsPath` / `stopBySubjectPath`) instead of riding as an
    * IN-set expression and a JSON option string — a million-token fleet
    * would otherwise push ~30 MB of catalog-property JSON through every
    * plan copy. The staged files are WRITTEN BY THE CLUSTER (a
    * single-partition `write.text` of the distributed census/watermark
    * tables), so the driver never materializes one row per token either —
    * its fleet-sized state is zero; the mode probe itself collects at
    * most threshold+1 subjects. Below the threshold the inline options
    * keep the plan self-contained (no file dependency for ad-hoc use) and
    * the per-token gathers are the reference's own driver state
    * (sync.go:61-100 [ext]) at a size where it is free.
    * [[run]]'s watermark JOIN filter still applies afterwards (free),
    * which also absorbs the precision gap: the wire window stops at
    * ceil(watermark) in millis (a superset — ES ranges are epoch-millis),
    * the exact `< watermark` comparison stays micro-precise in the plan.
    *
    * Past ~10M tokens the planner consume itself becomes the driver's
    * bottleneck (the per-token map at load() is ~2.1 GB there, LiveProbe
    * §7). The source's `censusRanges` option is the escape hatch — the
    * planner records one byte range per group (O(groups) state, LiveProbe
    * §10) and tasks read their own slices — but it requires the staged
    * files to OUTLIVE execution, which this method's delete-at-load()
    * cadence deliberately does not provide: at that scale use
    * [[runLiveRanged]], which stages into a CALLER-OWNED directory and
    * reads through `censusRanges` (+ `hotSubjectsPath` for known whales;
    * gate q236/q237 are the worked examples).
    */
  def runLive(
      spark: org.apache.spark.sql.SparkSession,
      url: String,
      dim: DataFrame,
      existingSink: Option[DataFrame],
      opts: SyncOptions = SyncOptions(),
      index: String = "device-status",
      batchSize: Int = 1000,
      pathModeThreshold: Int = PathModeThreshold,
      // `slices` > 1 engages the scan's hot-subject machinery (one terms
      // probe marks devices past `hotSubjectPages` pages; each drains in
      // parallel — sliced-PIT on an ES 8, time-window cuts on a PIT-less
      // server) so one deep-history device stops serializing the sync
      slices: Int = 1,
      hotSubjectPages: Int = 8
  ): DataFrame = {
    val explicitTokens = SyncOps.parseTokenList(opts.tokens)
    val scopedDim = scopeDim(dim, existingSink, opts)
    val subjectsDf = scopedDim.select("subject").distinct()
    // mode probe WITHOUT a fleet-sized collect: fetch at most threshold+1
    // subjects — enough to decide, and already the full census when small.
    // An explicit token list past the threshold answers the question with
    // NO probe job at all: the staged path is correct at any census size,
    // so a large list goes straight there (r18 — one fewer Spark action
    // per round on fleet-scale syncs)
    val probe: Seq[String] =
      if (explicitTokens.length > pathModeThreshold) Nil
      else subjectsDf.limit(pathModeThreshold + 1).collect().map(_.getString(0)).toSeq
    val pathMode =
      explicitTokens.length > pathModeThreshold || probe.length > pathModeThreshold
    // ONE watermark aggregate per round, shared by the wire-window staging
    // AND run()'s exact `< watermark` join (r18, guide §2.4): the lazy
    // localCheckpoint materializes at the staging write's action and the
    // append's plan reuses the tiny per-token table instead of re-scanning
    // the whole sink a second time.
    val wmShared: Option[DataFrame] =
      existingSink.map(sk => SyncOps.watermarks(sk, watermarkNames(opts)).localCheckpoint(false))
    var reader = spark.read.format("graft-status-live")
      .option("url", url).option("index", index).option("batchSize", batchSize.toString)
      .option("slices", slices.toString)
      .option("hotSubjectPages", hotSubjectPages.toString)
    if (opts.signalNames.nonEmpty)
      reader = reader.option("signals", opts.signalNames.mkString(","))
    // thread-safe: the census write is submitted from a second thread so
    // the two independent staging jobs overlap (guide §2.6)
    val staged = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    def stageText(df: DataFrame, prefix: String): String = {
      // staged FROM the cluster: a single-partition text write — the
      // driver never materializes one row per token (fleet-as-big-data:
      // the census/watermark table stays distributed until the final
      // file, and the planner reads that file once at load())
      val dir = java.nio.file.Files.createTempDirectory(prefix)
      staged.add(dir)
      writeSingleText(df, dir)
    }
    def deleteStaged(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(p).iterator().asScala.toSeq
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      java.nio.file.Files.deleteIfExists(p)
      ()
    }
    // the table consumes the staged files at load(); they are deleted the
    // moment that returns — and on ANY failure in between (bad URL, table
    // resolution error), so a cron-cadence sync that fails every round
    // still never accumulates staging files in /tmp
    var censusInFlight: Option[java.util.concurrent.CompletableFuture[String]] = None
    val base =
      try {
        if (pathMode) {
          // the census write and the stops write are INDEPENDENT Spark
          // jobs on disjoint inputs — submit the census from a second
          // thread so they overlap instead of serializing two rounds of
          // fixed job latency (guide §2.6; actions are only sequential
          // because driver code calls them sequentially). Joined before
          // load(); a census failure surfaces there, and the cleanup
          // below first settles the future so a stops-side failure can
          // never race the deletion against an in-flight write.
          val censusStaged = java.util.concurrent.CompletableFuture.supplyAsync(
            () => stageText(subjectsDf, "graft-subjects"))
          censusInFlight = Some(censusStaged)
          if (existingSink.isDefined) {
            // watermark map as subject<TAB>ceil-millis lines, computed and
            // written by the CLUSTER
            val f = stageText(subjectStops(scopedDim, wmShared.get)
              .select(concat_ws("\t", col("subject"), col("ms")).as("value")),
              "graft-stops")
            reader = reader.option("stopBySubjectPath", f)
          }
          // census via the staged file: per-subject fan-out without an
          // O(fleet) IN expression; run()'s dim join still enforces scope
          reader.option("subjectsPath", censusStaged.join()).load()
        } else {
          if (existingSink.isDefined) {
            val stops: Map[String, Long] = subjectStops(scopedDim, wmShared.get)
              .select("subject", "ms").collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            if (stops.nonEmpty)
              reader = reader.option("stopBySubject",
                graft.sources.StatusLiveSource.stopsJson(stops))
          }
          reader.load().where(col("subject").isin(probe.sorted: _*))
        }
      } finally {
        censusInFlight.foreach(f => try f.join() catch { case _: Throwable => () })
        staged.forEach(p => deleteStaged(p))
      }
    val docs = base.select(col("subject"), col("source"), col("time"), col("data"))
    run(docs, dim, existingSink, opts, wmShared)
  }

  /** Token scope: the explicit token list, else the sink's DISTINCT
    * tokens (sync.go:61,211-234); no tokens and no sink ⇒ nothing to sync.
    *
    * The explicit list filters as ONE hash-set predicate (`InSet`, what
    * the optimizer makes of a long IN list anyway): an `isin` of the
    * literals reaches code generation as a branch per literal when the
    * dim is a local relation (`ConvertToLocalRelation` evaluates it
    * before `OptimizeIn` runs), once per query over the scoped dim.
    */
  private def scopeDim(dim: DataFrame, existingSink: Option[DataFrame],
      opts: SyncOptions): DataFrame = {
    val explicitTokens = SyncOps.parseTokenList(opts.tokens)
    if (explicitTokens.nonEmpty)
      dim.where(ColumnBridge.column(InSet(
        ColumnBridge.expression(col("tokenId").cast(LongType)), explicitTokens.toSet[Any])))
    else
      existingSink match {
        case Some(sink) => dim.join(SyncOps.tokensFromSink(sink), Seq("tokenId"), "left_semi")
        case None       => dim.limit(0)
      }
  }

  /** The signals a token's watermark is taken over: all of them when the
    * sync is unfiltered, else the filter's VSS names.
    */
  private def watermarkNames(opts: SyncOptions): Seq[String] =
    if (opts.signalNames.isEmpty) Nil
    else SignalDefinitions.resolve(opts.signalNames).map(_.vssName)

  /** Each subject's wire stop as `(subject, ms)`: the ceil-millis of its
    * tokens' watermarks (`wm`: tokenId, watermark), the exclusive
    * per-token stop of sync.go:96-100 [ext]. Ceil absorbs the micro→milli
    * gap; [[run]]'s exact `< watermark` filter stays micro-precise.
    *
    * MAX per subject, and ONLY for subjects whose EVERY token has a
    * watermark: a dim mapping several tokenIds to one subject must get
    * ONE stop, the backfill's `time < watermark` fetch needs the union of
    * every token's window (overshipped overlap is clipped by [[run]]'s
    * per-token watermark join; undershipping must not happen), and a
    * never-synced alias needs the FULL window — a stop derived from its
    * sibling would silently drop its rows. So the join is LEFT from the
    * scoped dim: a never-synced token survives with a null watermark and
    * withholds its subject's stop.
    */
  private def subjectStops(scopedDim: DataFrame, wm: DataFrame): DataFrame =
    scopedDim.select("tokenId", "subject")
      .join(wm, Seq("tokenId"), "left_outer")
      .groupBy(col("subject"))
      .agg(max(expr("(unix_micros(watermark) + 999) DIV 1000")).as("ms"),
        sum(when(col("watermark").isNull, 1).otherwise(0)).as("missing"))
      .where(col("missing") === 0)

  /** Token count above which [[runLive]] stages the census and watermark
    * map to planner-read files instead of inline options/expressions.
    */
  // keep the inline path: staged-only (threshold 0) ran perfbench backfill +6.8% op_p50_ms, slower in 6 of 6 pairs
  val PathModeThreshold: Int = 1000

  /** One single-partition text write into `dir` → the part file's path —
    * the cluster-staging primitive [[runLive]] (tracked temp dirs,
    * deleted at load()) and [[runLiveRanged]] (caller-owned dirs that
    * outlive the action) share. The directory listing is CLOSED (a
    * leaked stream holds the descriptor for the JVM's life on some
    * filesystems).
    *
    * FRAMING GUARD: every staged file is newline-framed, so a line
    * containing `\n` (or `\r` — `BufferedReader.readLine` terminates on
    * both) would split into phantom lines. For the tabbed stops/weights
    * forms the phantom's missing tab fails the planner's parse loudly,
    * but a newline-bearing SUBJECT in the census splits into two
    * census lines whose terms match nothing — the scan silently
    * UNDER-ships that subject's documents. So the write itself raises,
    * in-plan (no extra pass, no driver materialization), on any line
    * carrying a frame byte. Tabs are safe by construction:
    * `lastIndexOf('\t')` parsing keeps a tabbed subject intact.
    */
  private def writeSingleText(df: DataFrame, dir: java.nio.file.Path): String = {
    val c = col(df.columns.head)
    val guarded = df.select(
      when(c.contains("\n") || c.contains("\r"),
        raise_error(concat(lit("staged line breaks the newline framing contract "
          + "(subject contains \\n or \\r): "), c)))
        .otherwise(c).as(df.columns.head))
    // The single sorted file the ranged planner verifies, produced by ONE
    // exchange-to-1 + in-task sort (r18, guide §2.4): a global .sort() at
    // the call sites cost an extra range-sampling pass over the input plus
    // a range exchange, only for coalesce(1) to merge the ranges again.
    // sortWithinPartitions on strings is the same UTF8String binary
    // (UTF-8 byte) order the planner's utf8Lt validation expects.
    guarded.repartition(1).sortWithinPartitions(df.columns.head)
      .write.mode("overwrite").text(dir.toString)
    val listing = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .find(_.getFileName.toString.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no staged part file in $dir"))
        .toString
    } finally listing.close()
  }

  /** The MEGA-FLEET form of [[runLive]]: past ~10M tokens the planner's
    * load()-time consume is the driver's own bottleneck (the per-token
    * map is ~2.1 GB there, LiveProbe §7), so this variant reads through
    * `censusRanges` — the planner records one byte range per group
    * (O(groups) driver state, LiveProbe §10) and each TASK reads its own
    * slice of the staged files. That flips the staging lifetime:
    * [[runLive]] deletes at load() because the planner consumed
    * everything; here tasks read the files DURING the action, so they
    * are staged into a CALLER-OWNED `stagingDir` and nothing is deleted —
    * the caller clears the directory after its action completes, and on
    * a real cluster the directory must be executor-readable (shared
    * storage, or `--files` distribution).
    *
    * `hotSubjects`: KNOWN deep-history whales (the operator usually
    * knows them, or one prior `groupBy(subject).count()` run does).
    * Ranged groups are equal-subject-count and never probe for hot
    * devices, so a whale would straggle its byte-range group; listed
    * subjects are carved out of the tiles and drained through the
    * sliced-PIT path (`slices` > 1) or one isolated task each
    * (`hotSubjectsPath` machinery — gate q237). [[run]]'s watermark
    * JOIN still applies afterwards, absorbing the milli-ceil gap exactly
    * as in [[runLive]].
    *
    * `hotMinRows` (default -1 = off): whale AUTO-DISCOVERY — with a sink
    * present, subjects whose already-synced depth exceeds the threshold
    * ([[SyncOps.hotSubjectsFromSink]], one bounded cluster-side count)
    * join the `hotSubjects` list without the caller naming them, making
    * whale handling the mega-fleet DEFAULT rather than operator
    * knowledge. Sink depth proxies source depth — exact for
    * steady-state incremental syncs; a missed whale merely straggles its
    * tile as before, a false whale costs one needless parallel drain —
    * never a wrong row. Explicit `hotSubjects` and discovered whales
    * UNION (first round has no sink: only the explicit list applies).
    *
    * `weightBySinkDepth` (default false): LOAD-BALANCED group boundaries
    * for the skew the hot-list does not name — each token's sink depth
    * stages as a `subject<TAB>weight` file (cluster-written, like the
    * stops file) and the planner cuts the byte-range groups at equal
    * cumulative weight instead of equal subject count
    * (`censusWeightsPath`). The proxy is the same as `hotMinRows`'s:
    * depth already synced stands in for depth left to sync — exact in
    * steady state, and an imbalance when wrong costs straggle time,
    * never rows. Tokens absent from the sink weigh 1 (a fresh token's
    * window is unknown until its first sync).
    */
  def runLiveRanged(
      spark: org.apache.spark.sql.SparkSession,
      url: String,
      dim: DataFrame,
      existingSink: Option[DataFrame],
      opts: SyncOptions = SyncOptions(),
      stagingDir: String,
      index: String = "device-status",
      batchSize: Int = 1000,
      censusRanges: Int = 64,
      slices: Int = 1,
      hotSubjects: Seq[String] = Nil,
      hotMinRows: Long = -1L,
      weightBySinkDepth: Boolean = false
  ): DataFrame = {
    val scopedDim = scopeDim(dim, existingSink, opts)
    val wmNames = watermarkNames(opts)
    // cluster-staged, caller-owned: a single-partition sorted text write
    // per file (the strictly-sorted form the ranged planner verifies),
    // left in place for the tasks to slice
    def stageTo(df: DataFrame, name: String): String =
      writeSingleText(df, java.nio.file.Paths.get(stagingDir, name))
    var reader = spark.read.format("graft-status-live")
      .option("url", url).option("index", index).option("batchSize", batchSize.toString)
      .option("censusRanges", censusRanges.toString)
      .option("slices", slices.toString)
    if (opts.signalNames.nonEmpty)
      reader = reader.option("signals", opts.signalNames.mkString(","))
    // Both staged tables RE-AGGREGATE BY SUBJECT after the dim join: the
    // census stages distinct subjects, so a dim mapping several tokenIds
    // to one subject (aliases, re-registrations) must stage ONE line per
    // subject here too — per-token lines would duplicate the subject and
    // the planner's strict-sorted require would fail the sync. Stops
    // are [[subjectStops]]; weights SUM (the subject's total sink depth
    // is what its tile drains; a sinkless sibling just contributes 0 —
    // balance-only).
    // ONE aggregate pass over the sink feeds every consumer this method
    // has (r18, guide §2.4/§1.2): per-token watermark (the stops file +
    // run()'s exact `< watermark` join), per-token depth (the weights
    // file), and whale discovery all read the SAME tiny lazily-checkpointed
    // table instead of each re-scanning the whole sink. min(when(...))
    // yields a NULL watermark where the filtered form yielded an absent
    // row — identical through the left-outer joins and the null guards.
    // ≥2 sink consumers (stops + weights and/or whale discovery) ⇒ the
    // shared per-token table is checkpointed EAGERLY — one scheduled job,
    // overlapped with the census write below — so its consumers can then
    // run CONCURRENTLY instead of serializing on the first one's lazy
    // materialization (r19, guide §2.6; the r18 residual measured
    // ~0.2-0.4 s of sequential small jobs per round on q240/q243). With
    // a single consumer (stops only) the lazy form stays: materialization
    // folds into the stops write's own action, one job total.
    val fanOutConsumers = existingSink.isDefined && (weightBySinkDepth || hotMinRows >= 0L)
    // the census write only reads the dim — submitted FIRST so it
    // overlaps the per-token sink aggregate and the staging jobs below
    // (guide §2.6), joined where the option is set; settled in the
    // finally so a staging failure cannot leave the write racing the
    // caller's directory cleanup
    val censusStaged = java.util.concurrent.CompletableFuture.supplyAsync(
      () => stageTo(scopedDim.select("subject").distinct(), "census"))
    val perToken: Option[DataFrame] = existingSink.map { sk =>
      val wmExpr =
        if (wmNames.isEmpty) min(col("timestamp"))
        else min(when(col("name").isin(wmNames: _*), col("timestamp")))
      sk.groupBy(col("tokenId"))
        .agg(wmExpr.as("watermark"), count(lit(1)).as("n"))
        .localCheckpoint(fanOutConsumers)
    }
    val wmShared = perToken.map(_.select("tokenId", "watermark"))
    def stageStops(): String = stageTo(subjectStops(scopedDim, wmShared.get)
      .select(concat_ws("\t", col("subject"), col("ms")).as("value")), "stops")
    // per-token sink depth as subject<TAB>rows, computed and sorted BY
    // THE CLUSTER like the stops file — the driver never holds a
    // per-token map; the planner streams the file once per pass
    def stageWeights(): String = stageTo(perToken.get.select(col("tokenId"), col("n"))
      .join(scopedDim.select("tokenId", "subject"), Seq("tokenId"))
      .groupBy(col("subject")).agg(sum(col("n")).as("n"))
      .select(concat_ws("\t", col("subject"), col("n")).as("value")), "weights")
    // whale discovery: sink depth past hotMinRows — the prior rounds' own
    // output is the probe, so round 2 carves out the whale round 1
    // revealed, unnamed. Discovery is SCOPED like everything else in this
    // sync: the sink semi-joins to the scoped tokens BEFORE the count,
    // and the scoped dim maps the survivors — against the raw sink, a
    // token-scoped sync over a shared store would fill
    // hotSubjectsFromSink's cap with out-of-scope whales and silently
    // crowd out in-scope ones
    def discoverWhales(): Seq[String] = perToken.map { pt =>
      SyncOps.hotSubjectsFromCounts(
        pt.select(col("tokenId"), col("n"))
          .join(scopedDim.select("tokenId"), Seq("tokenId"), "left_semi"),
        scopedDim, hotMinRows)
    }.getOrElse(Nil)
    var discoveredF: Option[java.util.concurrent.CompletableFuture[Seq[String]]] = None
    val inFlight = scala.collection.mutable.ArrayBuffer[
      java.util.concurrent.CompletableFuture[_]](censusStaged)
    try {
      if (fanOutConsumers) {
        // the per-token table is already materialized (eager checkpoint):
        // its consumers are independent tiny jobs — submit them together
        val stopsF = java.util.concurrent.CompletableFuture.supplyAsync(() => stageStops())
        inFlight += stopsF
        val weightsF =
          if (weightBySinkDepth)
            Some(java.util.concurrent.CompletableFuture.supplyAsync(() => stageWeights()))
          else None
        weightsF.foreach(inFlight += _)
        if (hotMinRows >= 0L) {
          val df = java.util.concurrent.CompletableFuture.supplyAsync(() => discoverWhales())
          discoveredF = Some(df)
          inFlight += df
        }
        reader = reader.option("stopBySubjectPath", stopsF.join())
        weightsF.foreach(wf => reader = reader.option("censusWeightsPath", wf.join()))
      } else if (existingSink.isDefined) {
        reader = reader.option("stopBySubjectPath", stageStops())
      }
      reader = reader.option("subjectsPath", censusStaged.join())
    } finally {
      // settle every in-flight job whatever happened above — never leave
      // one racing the caller's staging-directory lifecycle
      inFlight.foreach(f => try { f.join(); () } catch { case _: Throwable => () })
    }
    // explicit whales (operator knowledge) ∪ discovered whales
    val discovered: Seq[String] = discoveredF.map(_.join()).getOrElse(Nil)
    val allHot = (hotSubjects ++ discovered).distinct
    if (allHot.nonEmpty) {
      // the whale list is small, driver-side (hotSubjectsFromSink caps
      // before its broadcast; the explicit list is operator-typed)
      val hf = java.nio.file.Paths.get(stagingDir, "hot.txt").toString
      graft.sources.StatusLiveSource.writeSubjects(allHot.sorted, hf)
      reader = reader.option("hotSubjectsPath", hf)
    }
    val docs = reader.load().select(col("subject"), col("source"), col("time"), col("data"))
    run(docs, dim, existingSink, opts, wmShared)
  }

  /** [[run]] plus an [[org.apache.spark.sql.Observation]] carrying the
    * batch conversion stats the reference logs per page (`sync.go:97-107`:
    * rows synced, tokens touched, time bounds): `signal_rows`,
    * `distinct_tokens` (approx — observe() aggregates must be
    * merge-friendly), `min_ts`/`max_ts`. The stats ride the SAME job as
    * the data (one pass, zero extra actions) and become available after
    * the caller's first action; pipe them into
    * [[GraftMetricsListener.inc]] for the scrape-able surface.
    */
  def runObserved(
      docs: DataFrame,
      dim: DataFrame,
      existingSink: Option[DataFrame],
      opts: SyncOptions = SyncOptions()
  ): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val out = run(docs, dim, existingSink, opts).observe(
      obs,
      count(lit(1)).as("signal_rows"),
      approx_count_distinct(col("tokenId")).as("distinct_tokens"),
      min(col("timestamp")).as("min_ts"),
      max(col("timestamp")).as("max_ts")
    )
    (out, obs)
  }
}
