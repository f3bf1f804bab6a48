package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftspec.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.Row

import graft.sources.{SignalSink, StatusLivePartition, StatusLiveSource, StatusV2Source}

/** The Spark shape of one sync round at the suite's cores: how many jobs
  * and tasks opening the store, writing it and planning the live scan
  * take. Each task and each job costs fixed scheduling time whatever its
  * data, so these counts are what a round's fixed cost is made of.
  */
class RoundShapeSpec extends SparkTestBase {

  /** `f`'s result, the task count of each job it ran, and the task count
    * of each of its stages that completed, `f` running under a job group
    * of its own.
    */
  private def shapeOf[T](f: => T): (T, Seq[Int], Seq[Int]) = {
    val group = s"round-shape-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[Int]()
    val stages = new ConcurrentLinkedQueue[(Int, Int)]()
    val mine = new java.util.concurrent.ConcurrentHashMap[Int, Unit]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.stageInfos.map(_.numTasks).sum)
          e.stageIds.foreach(mine.put(_, ()))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add((e.stageInfo.stageId, e.stageInfo.numTasks))
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "round shape")
    val out = try f
    finally {
      spark.sparkContext.clearJobGroup()
      BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    (out, jobs.asScala.toSeq,
      stages.asScala.toSeq.filter(s => mine.containsKey(s._1)).sortBy(_._1).map(_._2))
  }

  /** Two rows on each of 64 tokens, one day: 64 `(bucket, day)` keys. */
  private def signals = spark.createDataFrame(
    (0 until 128).map(i => Row((i % 64).toLong, new java.sql.Timestamp(1704067200000L + i * 1000L),
      "Vehicle.Speed", i.toDouble, "", "spec")).asJava,
    SignalSink.Schema)

  /** Runs `f` on the path of a store that does not exist yet, and
    * deletes whatever it wrote there.
    */
  private def withStore(f: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-round-shape")
    Files.delete(dir)
    try f(dir)
    finally if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
  }

  /** `(bucket, day)` directory → parquet files in it. */
  private def filesPerKey(store: Path): Map[Path, Int] = {
    val walk = Files.walk(store)
    try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .groupBy(_.getParent).view.mapValues(_.size).toMap
    finally walk.close()
  }

  test("appendParquet writes with shuffle-partitions tasks and one file per (bucket, day)") {
    withStore { store =>
      val (_, _, stages) = shapeOf(SignalSink.appendParquet(signals, store.toString))
      val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(partitions === SparkSessionHolder.Cores)
      // the last stage is the write: it keeps one task per core instead of
      // AQE coalescing the small shuffle into one task
      assert(stages.last === partitions, s"stage task counts $stages")
      val files = filesPerKey(store)
      assert(files.size === 64, s"(bucket, day) keys: ${files.keys}")
      assert(files.values.forall(_ == 1), s"files per key: $files")
    }
  }

  test("readParquet over a 64-bucket store runs only the listing job, on at most one task per core") {
    withStore { store =>
      SignalSink.appendParquet(signals, store.toString)
      val (df, jobs, _) = shapeOf(SignalSink.readParquet(spark, store.toString))
      // no schema-inference job reads a footer: the store's schema is declared
      assert(jobs.size === 1, s"jobs before the first action (task counts): $jobs")
      assert(jobs.head <= SparkSessionHolder.Cores, s"listing tasks: ${jobs.head}")
      assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
        SignalSink.Schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(df.count() === 128)
    }
  }

  test("a staged 1,500-subject live scan plans at most 2 × defaultParallelism groups, each subject once") {
    val subjects = (0 until 1500).map(i => f"veh$i%05d")
    val subjFile = Files.createTempFile("graft-subjects", ".txt")
    try {
      StatusLiveSource.writeSubjects(subjects, subjFile.toString)
      val props = new java.util.HashMap[String, String]()
      props.put("url", "http://127.0.0.1:9")
      props.put("subjectsPath", subjFile.toString)
      val scan = new StatusLiveSource().getTable(StatusV2Source.Schema, Array.empty, props)
        .asInstanceOf[graft.sources.StatusLiveTable]
        .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          new java.util.HashMap[String, String]()))
        .build()
      // planning a cold census sends no request (the url is unreachable)
      val parts = scan.toBatch.planInputPartitions().map(_.asInstanceOf[StatusLivePartition])
      assert(parts.length <= 2 * spark.sparkContext.defaultParallelism, s"${parts.length} groups")
      val planned = parts.toSeq.flatMap(_.subjects.get)
      assert(planned.sorted === subjects, "every subject exactly once")
    } finally Files.deleteIfExists(subjFile)
  }
}
