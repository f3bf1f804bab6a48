package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem

/** One session factory: the specs, the oracle (`Verify`), `Bench` and the
  * tool mains all run on [[GraftSession]]'s configuration, so none of
  * them checks or times an engine configured differently from the one
  * the sync benchmark measures.
  */
class GraftSessionSpec extends SparkTestBase {

  test("no file under src/ but GraftSession.scala builds a SparkSession") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    // split so this file's own source text does not match
    val builds = ("SparkSession" + """\s*\.builder""").r
    val walk = Files.walk(src)
    val offenders =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => p.getFileName.toString != "GraftSession.scala")
        .filter(p => builds.findFirstIn(Files.readString(p)).isDefined)
        .map(p => src.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(offenders.isEmpty, s"build the session through GraftSession: $offenders")
  }

  test("the suite's session runs in UTC on the NIO local file system") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(hadoop.get("fs.file.impl") === classOf[graft.sources.NioLocalFileSystem].getName)
    assert(FileSystem.get(java.net.URI.create("file:///"), hadoop).getClass ===
      classOf[graft.sources.NioLocalFileSystem])
  }

  test("GraftSession.local twice: one session, each graft rule injected once") {
    val a = GraftSession.local(SparkSessionHolder.Cores)
    val b = GraftSession.local(SparkSessionHolder.Cores)
    assert(a eq b)
    assert(a eq spark)
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    Seq(graft.plans.AsofJoinStrategy, graft.plans.RangeJoinStrategy).foreach { s =>
      assert(exp.extraStrategies.count(_ == s) === 1, s"$s in ${exp.extraStrategies}")
    }
    assert(exp.extraOptimizations.count(_ == graft.plans.PushSignalNameFilter) === 1,
      s"${exp.extraOptimizations}")
  }
}
