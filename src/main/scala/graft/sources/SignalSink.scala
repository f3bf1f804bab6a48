package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types._

/** Signal-table sink — the ClickHouse batch-insert path of the reference
  * (`internal/service/clickhouse/clickhouse.go:113-130`: one prepared
  * native-protocol batch per page, append-only) re-expressed as Spark
  * writers.
  *
  * Two interchangeable backends behind one call shape:
  *   - [[appendJdbc]] — production: `df.write.jdbc` in append mode with
  *     explicit batch size; with the ClickHouse JDBC driver on the
  *     classpath the url is `jdbc:clickhouse://host:8123/db`. Each executor
  *     task writes its own batches — the reference's per-worker insert
  *     concurrency (25-100 goroutines) becomes ordinary task parallelism.
  *   - [[appendParquet]] — offline/tests and lakehouse layouts: append-only
  *     parquet partitioned by `(token_id-bucket, day)` so per-token
  *     watermark scans ([[graft.ops.SyncOps.watermarks]]) prune partitions
  *     instead of reading the world. This is the layout the 100 TB posture
  *     assumes. The write runs `spark.sql.shuffle.partitions` tasks (one
  *     per core in a [[graft.GraftSession]]) and still writes one file per
  *     `(bucket, day)` key.
  *
  * [[readParquet]] reads the store with its declared [[Schema]], so
  * opening the store runs only the partition-listing job, never a
  * footer-reading schema-inference job.
  */
object SignalSink {

  /** The store's data columns, in reference `signal`-table order
    * (clickhouse.go:114).
    */
  val Schema: StructType = StructType(Seq(
    StructField("tokenId", LongType), StructField("timestamp", TimestampType),
    StructField("name", StringType), StructField("valueNumber", DoubleType),
    StructField("valueString", StringType), StructField("source", StringType)))

  val Columns: Seq[String] = Schema.fieldNames.toSeq

  def appendJdbc(
      signals: DataFrame,
      url: String,
      table: String,
      batchSize: Int = 10000,
      properties: java.util.Properties = new java.util.Properties()
  ): Unit = {
    properties.setProperty("batchsize", batchSize.toString)
    signals
      .select(Columns.head, Columns.tail: _*)
      .write
      .mode(SaveMode.Append)
      .jdbc(url, table, properties)
  }

  /** Partitioned append: `token_bucket` (tokenId mod `buckets`) × `day`.
    * Bucketing the token key caps partition count while keeping both
    * pruning dimensions the sync workload filters on.
    *
    * The shuffle asks for `spark.sql.shuffle.partitions` partitions by
    * number: a by-column repartition of a round's few hundred KB falls
    * under AQE's minimum partition size, and AQE then coalesces it into
    * ONE task that writes every file alone. A key still hashes to one
    * task, so each `(bucket, day)` still gets one file.
    */
  def appendParquet(signals: DataFrame, path: String, buckets: Int = 64): Unit = {
    import org.apache.spark.sql.functions._
    signals
      .select(Columns.map(col): _*)
      .withColumn("token_bucket", pmod(col("tokenId"), lit(buckets)))
      .withColumn("day", date_trunc("DAY", col("timestamp")))
      // Each output partition in one task, rows sorted by (tokenId, timestamp)
      // within each (bucket, day) file: fewer files and run-length-friendly
      // pages — the MergeTree ORDER BY analog of the reference's signal
      // table. The sort LEADS with the partition columns (r18): the dynamic
      // partitionBy writer requires its task input ordered by them and
      // silently inserts its own (tokenId-order-destroying) sort when they
      // are not — leading with (token_bucket, day) satisfies that required
      // ordering, so ONE sort runs and the per-file (tokenId, timestamp)
      // clustering actually holds.
      .repartition(signals.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("token_bucket"), col("day"))
      .sortWithinPartitions(
        col("token_bucket"), col("day"), col("tokenId"), col("timestamp"))
      .write
      .mode(SaveMode.Append)
      .partitionBy("token_bucket", "day")
      .parquet(path)
  }

  /** Read a parquet sink back (the watermark/token-discovery input) with
    * the declared [[Schema]]: no job reads a footer to infer it.
    */
  def readParquet(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.schema(Schema).parquet(path).select(Columns.head, Columns.tail: _*)
}
