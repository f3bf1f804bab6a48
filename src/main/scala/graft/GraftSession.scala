package graft

import org.apache.spark.sql.SparkSession

/** The session factory: the only code in `src/` that builds a
  * `SparkSession`. The driver mains (`Verify`, `Bench`), every
  * `graft.tools` main that opens a session, `LifecycleFuzz` and the spec
  * suite call [[local]]; the sync benchmark calls [[builder]] and adds its
  * own master. So the oracle, the bench, the specs and the benchmark run
  * one configuration (`GraftSessionSpec` keeps it that way).
  *
  * Settings and why:
  *   - AQE on + skew-join: runtime re-planning replaces the reference's
  *     hand-rolled adaptive batch sizing (`sync.go:163-184`) and covers
  *     hot-token skew the salting operators don't.
  *   - shuffle partitions = cores locally; on a real cluster set
  *     2-3× total executor cores (or leave AQE coalescing to shrink).
  *   - partition-discovery parallelism = cores: a directory with more
  *     than 32 partition subdirectories (the sync store has 64 token
  *     buckets) is listed by a Spark job, by default one task per
  *     subdirectory (up to 10,000). Each task lists a few entries, so
  *     per-task scheduling dominates; one task per core lists the same
  *     directories.
  *   - 128 MiB file split size: parquet scan granularity that keeps
  *     per-task memory bounded at 100 TB inputs.
  *   - zstd parquet writes: ~30% smaller than snappy at similar CPU —
  *     the right trade when storage and shuffle IO dominate.
  *   - UTC session timezone: all reference timestamps are UTC epoch-ms;
  *     a local-timezone session would silently shift them.
  */
object GraftSession {

  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      // local-FS permission calls stay in-process (one NIO syscall) instead
      // of forking `chmod` per created file — measurable on partitioned
      // local writes when libhadoop is absent; a no-op difference on
      // HDFS/S3 deployments (see NioLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.sources.NioLocalFs].getName)

  /** Local session (UI off) with the engine's SQL surface registered.
    * A second call returns the same session; registration is idempotent.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(cores).master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(spark)
    spark
  }

  /** Cores for the mains sized by `SPARK_GRAFT_CPUS` (default: all of them). */
  def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
}
