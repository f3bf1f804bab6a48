package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The DSv2 WRITE path of the sharded store: `RequiresDistributionAndOrdering`
  * (clustered by shard, sorted (shard, token_id, ts_us)), task-file commit
  * protocol, codec option, exact write→read round trips.
  */
class ShardedWriterSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("token_id", LongType, nullable = true),
    StructField("ts_us", LongType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("v", DoubleType, nullable = true)))

  /** Scrambled rows across `nShards` shards; deliberately NOT clustered or
    * sorted on the way in — the writer's declared requirements must plan
    * the shuffle + sort.
    */
  private def messyInput(nShards: Int, rowsPerShard: Int): DataFrame = {
    val rows = for {
      s <- 0 until nShards
      i <- 0 until rowsPerShard
    } yield Row(s, (s + (i % 7) * nShards).toLong, 1000000L * ((i * 37) % rowsPerShard),
      s"sig_${i % 3}", i * 0.5)
    val shuffled = scala.util.Random.shuffle(rows.toVector)
    spark.createDataFrame(
      spark.sparkContext.parallelize(shuffled, 10), schema)
  }

  private def tmpDir(): String =
    Files.createTempDirectory("graft-writer").toFile.getAbsolutePath

  private def readBack(dir: String): DataFrame =
    spark.read.format("graft-sharded").load(dir)

  test("append round-trips, clusters by shard, sorts (token_id, ts_us) within files") {
    val dir = tmpDir()
    val in = messyInput(4, 60)
    in.write.format("graft-sharded").mode("append").save(dir)

    // layout: shard=K dirs + _SUCCESS, no staging residue
    val root = new java.io.File(dir)
    val names = root.listFiles().map(_.getName).toSet
    assert((0 until 4).forall(k => names.contains(s"shard=$k")), names.toString)
    assert(names.contains("_SUCCESS"))
    assert(!names.exists(_.startsWith("_tmp-write-")), "staging must be swept")

    // read back = exact multiset of the input
    val got = readBack(dir)
    assert(got.count() === 240)
    assert(got.exceptAll(in).count() === 0)
    assert(in.exceptAll(got).count() === 0)

    // Spark honored the required ordering: every part file is sorted by
    // (token_id, ts_us); and the required distribution: each shard's
    // files all come from ONE task (one partitionId prefix per shard dir)
    (0 until 4).foreach { k =>
      val all = new java.io.File(root, s"shard=$k").listFiles().filter(_.isFile)
      val parts = all.filterNot(_.getName.startsWith("."))
      assert(parts.nonEmpty)
      // every part carries its minmax sidecar (r8 stats)
      parts.foreach(p => assert(all.exists(_.getName == s".${p.getName}.minmax"),
        s"missing sidecar for ${p.getName}"))
      val pids = parts.map(_.getName.split("-")(1)).toSet
      assert(pids.size === 1, s"shard $k written by tasks $pids — not clustered")
      parts.foreach { f =>
        val keys = scala.io.Source.fromFile(f).getLines().map { l =>
          val a = l.split(",", -1); (a(0).toLong, a(1).toLong)
        }.toVector
        assert(keys === keys.sorted, s"${f.getName} not in (token_id, ts_us) order")
      }
    }

    // the written layout serves the zero-exchange key-grouped path
    val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val agg = readBack(dir).groupBy("shard", "token_id").agg(sum("v").as("sv"))
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("overwrite truncates previous shard entries (dirs AND flat files) atomically at commit") {
    val dir = tmpDir()
    messyInput(3, 20).write.format("graft-sharded").mode("append").save(dir)
    // a stray flat-file shard from an older layout generation
    val stray = new java.io.PrintWriter(new java.io.File(dir, "shard=9.csv"))
    stray.println("1,1,old,1.0"); stray.close()
    assert(readBack(dir).count() === 61)

    val b = messyInput(2, 5) // shards 0,1 only
    b.write.format("graft-sharded").mode("overwrite").save(dir)
    val got = readBack(dir)
    assert(got.count() === 10)
    assert(got.select("shard").distinct().collect().map(_.getInt(0)).sorted === Array(0, 1))
    assert(b.exceptAll(got).count() === 0 && got.exceptAll(b).count() === 0)
  }

  test("append merges into an existing layout") {
    val dir = tmpDir()
    messyInput(2, 10).write.format("graft-sharded").mode("append").save(dir)
    messyInput(2, 10).write.format("graft-sharded").mode("append").save(dir)
    assert(readBack(dir).count() === 40)
  }

  test("codec option writes compressed parts the reader decodes; never split") {
    for (codec <- Seq("gzip", "zstd")) {
      val dir = tmpDir()
      val in = messyInput(2, 30)
      in.write.format("graft-sharded").option("codec", codec).mode("append").save(dir)
      val ext = if (codec == "gzip") ".csv.gz" else ".csv.zst"
      val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
        .flatMap(_.listFiles()).filter(f => f.isFile && !f.getName.startsWith("."))
      assert(parts.nonEmpty && parts.forall(_.getName.endsWith(ext)),
        parts.map(_.getName).mkString(", "))
      val got = readBack(dir)
      assert(got.count() === 60)
      assert(in.exceptAll(got).count() === 0)
      // compressed parts stay whole even under forced splitting
      val always = spark.read.format("graft-sharded")
        .option("split", "always").option("splitBytes", "64").load(dir)
      assert(always.rdd.getNumPartitions === parts.length)
      assert(always.count() === 60)
    }
  }

  test("null fields round-trip (name's empty/null collapse is the documented format limit)") {
    val rows = Seq(
      Row(0, null, 5L, "a", null),
      Row(0, 7L, null, null, 2.5),
      Row(1, 9L, 1L, "", -0.0))
    val dir = tmpDir()
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.format("graft-sharded").mode("append").save(dir)
    val got = readBack(dir).collect().map(r =>
      (r.getInt(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toSet
    assert(got === Set(
      (0, None, Some(5L), Some("a"), None),
      (0, Some(7L), None, Some(""), Some(2.5)), // null name reads back as ""
      (1, Some(9L), Some(1L), Some(""), Some(-0.0))))
  }

  test("exotic doubles round-trip bit-exactly through Double.toString + reader parse") {
    val vs = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, Double.MaxValue, 1.0e-300, 0.1 + 0.2, -0.0,
      1234567890123456.7, 1.0 / 3.0)
    val rows = vs.zipWithIndex.map { case (v, i) => Row(0, i.toLong, i.toLong, "x", v) }
    val dir = tmpDir()
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.format("graft-sharded").mode("append").save(dir)
    val got = readBack(dir).orderBy("token_id").collect().map(_.getDouble(4))
    assert(got.length === vs.length)
    vs.zip(got).foreach { case (w, r) =>
      assert(java.lang.Double.doubleToLongBits(w) == java.lang.Double.doubleToLongBits(r),
        s"wrote $w read $r")
    }
  }

  test("names containing the field separator are rejected at write time") {
    val dir = tmpDir()
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(0, 1L, 1L, "a,b", 1.0)), 1), schema)
    val e = intercept[Exception] {
      bad.write.format("graft-sharded").mode("append").save(dir)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(_.contains("may not contain"))),
      s"unexpected failure: $e")
    // failed write must not publish anything
    assert(!new java.io.File(dir, "_SUCCESS").exists())
    assert(spark.read.format("graft-sharded").load(dir).count() === 0)
  }

  test("an aborted write publishes no part and leaves no staging directory") {
    val dir = tmpDir()
    messyInput(2, 10).write.format("graft-sharded").mode("append").save(dir)
    // shard 3's task fails on its last row; the other shards' tasks may
    // have committed their files to staging before the job aborts
    val rows = (0 until 40).map(i => Row(i % 4, i.toLong, i * 1000L,
      if (i == 39) "a,b" else s"sig_$i", i * 0.5))
    intercept[Exception] {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .write.format("graft-sharded").mode("append").save(dir)
    }
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith("_tmp-write-")), s"abort must sweep staging: $names")
    assert(readBack(dir).count() === 20, "the aborted append publishes none of its rows")
  }
}
