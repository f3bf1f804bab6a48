package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Randomized LIFECYCLE property harness for the sharded store — the
  * storage engine's end-to-end invariant under arbitrary interleavings of
  * its operations: after ANY sequence of {batch append, OPTIMIZE,
  * OPTIMIZE FINAL, TTL expiry}, with varying codecs / granule sizes /
  * part-roll and merge-group bounds,
  *
  *   - a plain batch read equals an in-memory model (exact row multiset),
  *   - a `dedup=latest` read equals the model's replacing collapse
  *     (newest ts per (token, name), nulls are keys, null ts loses to any
  *     non-null ts),
  *   - a sorted read survives its own order assertion,
  *   - a final AvailableNow streaming drain re-reads the surviving store
  *     exactly once.
  *
  * Values are a deterministic function of (token, name, ts) so exact-key
  * ties collapse to identical rows and the model stays engine-independent
  * (the store's tie-break is ingest order — unobservable when tied rows
  * are value-equal). Seeded: failures reproduce. Lives in MAIN so the
  * bench ledger runs a pinned-seed round as a gate entry
  * (`StoreLifecycleFuzzSpec` drives the same harness in CI).
  */
private[graft] object LifecycleFuzz {

  private val schema = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("token_id", LongType, nullable = true),
    StructField("ts_us", LongType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("v", DoubleType, nullable = true)))

  private type R = (Int, Option[Long], Option[Long], Option[String], Option[Double])

  private def vOf(tok: Option[Long], ts: Option[Long], name: Option[String]): Double =
    (tok.getOrElse(7L) * 31 + ts.map(_ % 1000).getOrElse(3L) + name.map(_.length).getOrElse(0)).toDouble

  private def collapse(model: Seq[R]): Seq[R] =
    model.groupBy(r => (r._2, r._4)).values.map { g =>
      // newest non-null ts wins; all-null-ts groups keep a null-ts row.
      // Tied winners are value-identical by construction.
      val nonNull = g.filter(_._3.isDefined)
      if (nonNull.nonEmpty) nonNull.maxBy(_._3.get) else g.head
    }.toSeq

  private def readRows(df: DataFrame): Seq[R] =
    df.collect().toSeq.map { r =>
      (r.getInt(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getString(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }

  private def asBag(rs: Seq[R]) = rs.groupBy(identity).view.mapValues(_.size).toMap

  /** Standalone soak entry point: `runMain graft.jobs.LifecycleFuzz
    * [seed] [trials]` — the end-of-round fresh-seed campaign without a
    * test harness (defaults: random seed, 8 trials).
    */
  def main(args: Array[String]): Unit = {
    val seed = args.lift(0).map(_.toLong).getOrElse(new java.util.Random().nextLong())
    val trials = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val t0 = System.nanoTime()
      run(spark, seed, trials)
      println(f"[lifecyclefuzz] $trials trials clean (seed $seed) in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    } finally spark.stop()
  }

  /** One seeded campaign; raises on the first model divergence. */
  def run(spark: SparkSession, seed: Long, trials: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    for (trial <- 0 until trials) {
      val dir = Files.createTempDirectory(s"graft-fuzz$trial").toFile.getAbsolutePath
      var model = Vector.empty[R]
      val codec = Seq("none", "gzip", "zstd")(rnd.nextInt(3))
      val granuleRows = 1 + rnd.nextInt(32)
      val names = Seq("speed", "soc", "temp", "odo")

      def append(): Unit = {
        val n = 20 + rnd.nextInt(60)
        val rows = (0 until n).map { _ =>
          val tok = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(13).toLong)
          val ts = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(50).toLong * 1000)
          // the store's name column is ClickHouse-String-like: non-nullable
          // with "" as the null surrogate (a CSV empty field) — a written
          // NULL reads back as "" by contract, so the model coerces here
          val nm = Some(if (rnd.nextInt(20) == 0) "" else names(rnd.nextInt(names.length)))
          val shard = (tok.getOrElse(0L) % 2).toInt
          (shard, tok, ts, nm, Some(vOf(tok, ts, nm))): R
        }
        model ++= rows
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map(r =>
            Row(r._1, r._2.orNull, r._3.orNull, r._4.orNull, r._5.orNull)), 1 + rnd.nextInt(3)),
          schema)
          .write.format("graft-sharded").option("codec", codec)
          .option("granuleRows", granuleRows.toString)
          .option("maxPartBytes", (256 + rnd.nextInt(4096)).toString)
          .mode("append").save(dir)
      }

      def check(ctx: String): Unit = {
        // The three checks read the SAME settled store state and are
        // independent of each other — submit them concurrently (guide
        // §2.6: actions are only sequential because driver code calls
        // them sequentially) so a check costs one fixed job latency, not
        // three. Assertions, messages, and coverage are unchanged; the
        // model snapshot is taken before submission so a racing mutation
        // is impossible by construction (ops mutate only between checks).
        val modelBag = asBag(model)
        val collapsedBag = asBag(collapse(model))
        val nModel = model.size.toLong
        val plainF = java.util.concurrent.CompletableFuture.runAsync { () =>
          val got = readRows(spark.read.format("graft-sharded").load(dir))
          require(asBag(got) == modelBag, s"plain read diverged [$ctx] (seed $seed)")
        }
        val dedupF = java.util.concurrent.CompletableFuture.runAsync { () =>
          val snap = readRows(spark.read.format("graft-sharded")
            .option("sorted", "true").option("dedup", "latest").load(dir))
          require(asBag(snap) == collapsedBag,
            s"dedup=latest diverged [$ctx] (seed $seed)")
        }
        // the sorted read runs under OrderAssertReader: a layout that lies
        // about its order fails the read itself
        val sortedF = java.util.concurrent.CompletableFuture.runAsync { () =>
          require(spark.read.format("graft-sharded").option("sorted", "true")
            .load(dir).count() == nModel, s"sorted count [$ctx] (seed $seed)")
        }
        // settle ALL before raising: a diverged check must never leave a
        // sibling read racing the next op's store mutation
        val all = Seq(plainF, dedupF, sortedF)
        all.foreach(f => try f.join() catch { case _: Throwable => () })
        all.foreach { f =>
          try f.join()
          catch { case e: java.util.concurrent.CompletionException =>
            throw Option(e.getCause).getOrElse(e)
          }
        }
      }

      append(); check(s"t$trial init codec=$codec g=$granuleRows")
      val ops = 6 + rnd.nextInt(3)
      for (op <- 0 until ops) {
        val ctx = s"t$trial op$op codec=$codec g=$granuleRows"
        rnd.nextInt(5) match {
          case 0 | 1 => append()
          case 2 =>
            StoreOptimize.optimize(spark, dir, codec = codec,
              granuleRows = granuleRows,
              mergeGroupSize = 2 + rnd.nextInt(6),
              maxPartBytes = 512 + rnd.nextInt(8192))
          case 3 =>
            StoreOptimize.optimize(spark, dir, codec = codec,
              granuleRows = granuleRows, finalDedup = true)
            model = collapse(model).toVector
          case 4 =>
            val cutoff = rnd.nextInt(50).toLong * 1000
            StoreRetention.expire(spark, dir, cutoff, codec = codec,
              granuleRows = granuleRows)
            model = model.filter(r => r._3.forall(_ >= cutoff))
        }
        check(ctx)
      }

      // the surviving store tails out exactly once
      val drained = new java.util.concurrent.ConcurrentLinkedQueue[R]()
      val q = spark.readStream.format("graft-sharded")
        .option("maxPartsPerTrigger", "3").load(dir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          readRows(df.toDF()).foreach(drained.add); ()
        }
        .option("checkpointLocation",
          Files.createTempDirectory(s"graft-fuzzck$trial").toString)
        .trigger(Trigger.AvailableNow()).start()
      try require(q.awaitTermination(120000), s"t$trial stream drain timed out (seed $seed)")
      finally q.stop()
      import scala.jdk.CollectionConverters._
      require(asBag(drained.asScala.toSeq) == asBag(model),
        s"t$trial stream drain diverged (seed $seed)")
    }
  }
}
