package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The last mile of the training-data pipeline: curate → shard → publish.
  *
  * Takes the corpus through the SAME curation program the declared q85
  * query proves (rule gauntlet → canonical dedup keep-first → quality ≥
  * 0.5 → deterministic 60% sample), assigns every kept doc a
  * deterministic shard (`hash32("export|" + doc_id) mod nShards` — the
  * q103 split discipline: reruns and retries land every doc in the same
  * shard), and writes one parquet directory per shard plus a
  * `manifest.json` with per-shard doc/token counts — the file a training
  * launcher reads to plan its data loader.
  *
  * Publish discipline (the house two-phase commit, as in
  * `DedupIndexJob` / `ShardedBatchWrite`): everything lands in
  * `outDir/_tmp-<epoch>`, and a single atomic rename publishes it as
  * `outDir/vN` with a `LATEST` pointer written last. Readers either see a
  * complete versioned snapshot or the previous one — never a torn export.
  * Re-running on identical input produces an identical manifest (the
  * determinism spec pins it), so a crashed export is safely re-run.
  *
  * 100 TB shape: the curation program is one Catalyst plan (PlanSpec pins
  * q85's fused form — the dedup semi-join is the only wide stage);
  * `repartition(shard)` makes each output directory exactly one task's
  * sequential write; the manifest aggregate is nShards rows.
  */
object ExportJob {

  case class ShardStat(shard: Int, nDocs: Long, nTokens: Long)
  case class ExportResult(version: String, path: String, nShards: Int,
      nDocs: Long, nTokens: Long, shards: Seq[ShardStat])

  /** The q85 curation program, ending at kept docs (not the rollup). */
  def curated(spark: SparkSession, sfDir: String): DataFrame = {
    val Stop = graft.queries.TextQueries.Stop
    val base = graft.queries.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        split(col("text"), " ").as("t"))
    val ruled = base.where(
      size(col("t")) >= 10 &&
        size(filter(col("t"), x => length(x) > 20)) === 0 &&
        size(filter(col("t"), x => x.isin(Stop: _*))) > 0)
      .withColumn("canon_hash",
        md5(graft.functions.CanonicalizeExpressions.canonAlnum(col("text"))))
    val keepers = ruled.groupBy(col("canon_hash")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = ruled.join(keepers, Seq("doc_id"), "left_semi")
    val nTok = size(col("t")).cast("double")
    val quality =
      lit(0.5) * (size(array_distinct(col("t"))).cast("double") / nTok) +
        lit(0.3) * least(
          aggregate(transform(col("t"), x => length(x).cast(LongType)), lit(0L), _ + _)
            .cast("double") / nTok / lit(8.0), lit(1.0)) +
        lit(0.2) * (size(filter(col("t"), x => x.isin(Stop: _*))).cast("double") / nTok)
    deduped
      .where(quality >= 0.5)
      .where(pmod(graft.functions.TextFunctions.hash32(
        concat(lit("q85|"), col("doc_id").cast("string"))), lit(5)) < 3)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        size(col("t")).cast(LongType).as("n_tok"))
  }

  /** Residue-sweep grace. Overridable because "1 h" is a policy, not a
    * law: an export that can take longer must raise it (ADVICE r7).
    */
  val DefaultSweepGraceMs: Long = 60L * 60 * 1000

  /** Run the export; returns the published version's stats. */
  def run(spark: SparkSession, sfDir: String, outDir: String, nShards: Int,
      sweepGraceMs: Long = DefaultSweepGraceMs): ExportResult = {
    require(nShards > 0)
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(outDir))

    // Residue sweep (ADVICE r6): a racer that crashed in the collision
    // window can leave (a) an abandoned top-level _tmp-<epoch> and (b) a
    // foreign _tmp-<epoch> nested INSIDE a published vN (crashed between
    // being renamed in and recovering out). Both are unpublished data by
    // construction — a complete snapshot holds exactly data/,
    // manifest.json, _SUCCESS — so the next publish deletes them, but only
    // after a grace so a LIVE exporter's in-flight tmp is never pulled out
    // from under it. The grace is judged against BOTH the name-embedded
    // epoch AND the newest mtime inside the dir (ADVICE r7): an export
    // legitimately running longer than the grace keeps touching its tmp,
    // so its activity — not its start time — keeps it alive, and clock
    // skew in the embedded epoch alone can't doom a live exporter either.
    val sweepBefore = System.currentTimeMillis() - sweepGraceMs
    def tmpEpoch(name: String): Option[Long] =
      if (name.startsWith("_tmp-")) name.stripPrefix("_tmp-").toLongOption else None
    def newestMtime(p: Path): Long = {
      var mx = fs.getFileStatus(p).getModificationTime
      val it = fs.listFiles(p, true)
      while (it.hasNext) mx = math.max(mx, it.next().getModificationTime)
      mx
    }
    val candidates =
      Option(fs.globStatus(new Path(outDir, "_tmp-*"))).getOrElse(Array.empty) ++
        Option(fs.globStatus(new Path(outDir, "v*/_tmp-*"))).getOrElse(Array.empty)
    candidates.foreach { st =>
      if (tmpEpoch(st.getPath.getName).exists(_ < sweepBefore) &&
          newestMtime(st.getPath) < sweepBefore)
        fs.delete(st.getPath, true)
    }

    val kept = curated(spark, sfDir)
      .withColumn("shard", pmod(graft.functions.TextFunctions.hash32(
        concat(lit("export|"), col("doc_id").cast("string"))), lit(nShards)).cast("int"))

    val tmp = new Path(outDir, s"_tmp-${System.currentTimeMillis()}")
    // one task per shard directory: sequential, large, no small files
    kept.repartition(nShards, col("shard"))
      .write.partitionBy("shard").mode("overwrite").parquet(new Path(tmp, "data").toString)

    // Manifest from the WRITTEN files, not a recompute: one narrow
    // (shard, n_tok) columnar scan of the snapshot — half the corpus
    // passes, and the manifest describes exactly what readers will see.
    val stats = spark.read.parquet(new Path(tmp, "data").toString)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("shard"))
      .collect() // nShards rows — a dimension, not data
      .map(r => ShardStat(r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val manifest =
      s"""{"n_shards": $nShards,
         |"n_docs": ${stats.map(_.nDocs).sum},
         |"n_tokens": ${stats.map(_.nTokens).sum},
         |"shards": [${stats.map(s =>
            s"""{"shard": ${s.shard}, "n_docs": ${s.nDocs}, "n_tokens": ${s.nTokens}}""")
          .mkString(", ")}]}""".stripMargin.replace("\n", " ")
    val mOut = fs.create(new Path(tmp, "manifest.json"), true)
    mOut.write(manifest.getBytes("UTF-8")); mOut.close()
    fs.create(new Path(tmp, "_SUCCESS"), true).close()

    // next version number = max existing + 1, safe under CONCURRENT
    // exporters (ADVICE r5): two racing publishers can allocate the same
    // vN, and HDFS rename(tmp, existingDir) silently moves tmp INSIDE the
    // winner's directory instead of failing. The collision probe is the
    // NESTED-TMP check, not _SUCCESS: a racing winner's snapshot also has
    // a top-level _SUCCESS, so the only reliable signal that dest is OUR
    // renamed tmp is that no child named after tmp exists inside it (our
    // snapshot contains exactly data/, manifest.json, _SUCCESS). On
    // collision the nested tmp is pulled back out and version allocation
    // retries; a rename that fails while dest is still absent is NOT a
    // race and fails fast with its own diagnostic.
    var version: String = null
    var published = false
    var attempt = 0
    while (!published) {
      attempt += 1
      require(attempt <= 10, s"publish version allocation collided $attempt times in $outDir")
      val existing = Option(fs.globStatus(new Path(outDir, "v*"))).getOrElse(Array.empty)
        .map(_.getPath.getName.stripPrefix("v")).flatMap(_.toIntOption)
      version = s"v${if (existing.isEmpty) 1 else existing.max + 1}"
      val dest = new Path(outDir, version)
      if (!fs.exists(dest)) {
        if (fs.rename(tmp, dest)) {
          val nested = new Path(dest, tmp.getName)
          if (!fs.exists(nested)) published = true // dest IS our renamed tmp
          else {
            // a racer created dest between our exists-check and rename,
            // and the rename nested us inside the winner: recover and retry
            require(fs.rename(nested, tmp),
              s"publish collided on $version and recovery rename failed")
          }
        } else {
          // rename refused while dest absent: permissions / missing tmp /
          // cross-fs — not a race, do not spin the allocation loop
          require(fs.exists(dest), s"publish rename failed for $version (non-collision)")
        }
      }
    }
    // LATEST pointer written last: readers resolve it after the snapshot
    // exists (monotonicity contract in [[writeLatestIfNewest]]).
    writeLatestIfNewest(fs, outDir, version)

    ExportResult(version, new Path(outDir, version).toString, nShards,
      stats.map(_.nDocs).sum, stats.map(_.nTokens).sum, stats)
  }

  /** Write `LATEST` = `version` only while it is still the newest published
    * snapshot — monotonic under concurrent exporters (ADVICE r6): a paused
    * exporter resuming after a racer published a newer vN must not regress
    * the pointer to its own older (valid but stale) snapshot. The remaining
    * check-to-write window is one metadata op wide and can only pick
    * between two COMPLETE snapshots published in that instant — readers
    * never see a torn or missing target either way. Returns whether the
    * pointer was written.
    */
  private[graft] def writeLatestIfNewest(fs: org.apache.hadoop.fs.FileSystem,
      outDir: String, version: String): Boolean = {
    val ourN = version.stripPrefix("v").toInt
    val newestN = Option(fs.globStatus(new Path(outDir, "v*"))).getOrElse(Array.empty)
      .map(_.getPath.getName.stripPrefix("v")).flatMap(_.toIntOption)
      .foldLeft(ourN)(math.max)
    if (newestN == ourN) {
      val lOut = fs.create(new Path(outDir, "LATEST"), true)
      lOut.write(version.getBytes("UTF-8")); lOut.close()
      true
    } else false
  }
}
