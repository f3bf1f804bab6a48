package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments: spans around each layer call made by
  * the benchmark, and the Spark-stack counters behind the per-layer
  * metrics. A disabled tracer registers nothing and its `span` only
  * runs the body, so the untraced run measures the engine alone.
  *
  * Counters are process-wide; [[snapshot]] drains the listener bus first,
  * so a difference of two snapshots taken around a call covers exactly
  * the actions that call ran. Jobs are attributed to spans for the JSON
  * trace: by the job group the span set, else (jobs submitted from
  * another thread, such as the sync's staging futures) by time to the
  * innermost span open when the job started.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long,
      val startEpochMs: Long) {
    var endNs: Long = -1L
    var endEpochMs: Long = Long.MaxValue
    val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  }

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private val jobs = new LongAdder
  private val tasks = new LongAdder
  private val taskRunMs = new LongAdder
  private val taskCpuNs = new LongAdder
  private val shuffleBytes = new LongAdder
  private val planMs = new LongAdder
  private val filesRead = new LongAdder
  private val bytesRead = new LongAdder
  // (group, submit epoch ms) per job; stage → job; per-stage task sums
  private val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskEnds = new ConcurrentLinkedQueue[(Int, Long, Long)]() // stage, run ms, cpu ns
  private val plans = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]() // epoch ms, plan ms, files, bytes

  private object Scans extends AdaptiveSparkPlanHelper

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.increment()
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        jobInfo.put(e.jobId, (group.getOrElse(""), e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.increment()
        val m = e.taskMetrics
        if (m != null) {
          taskRunMs.add(m.executorRunTime)
          taskCpuNs.add(m.executorCpuTime)
          shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          taskEnds.add((e.stageId, m.executorRunTime, m.executorCpuTime))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
        val p = phases.map(_.durationMs).sum
        // delivered late, on the bus thread: date the action by its planning
        val at = phases.lastOption.map(_.endTimeMs).getOrElse(System.currentTimeMillis())
        planMs.add(p)
        val scans = Scans.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        val files = scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum
        val bytes = scans.flatMap(_.metrics.get("filesSize")).map(_.value).sum
        filesRead.add(files)
        bytesRead.add(bytes)
        plans.add((at, p, files, bytes))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Runs `f` inside a span named `name`; a no-op wrapper when disabled. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(s"pb-${s.id}", name)
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endEpochMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Attaches a measured count to the innermost open span. */
  def count(name: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.counts(name) = s.counts.getOrElse(name, 0.0) + v)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Process-wide Spark-stack counters (bus drained first). */
  def snapshot(): Map[String, Double] =
    if (!enabled) Map.empty
    else {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      Map(
        "spark.plan_ms" -> planMs.sum().toDouble,
        "spark.codegen_ms" -> CodeGenerator.compileTime / 1e6,
        "spark.jobs" -> jobs.sum().toDouble,
        "spark.tasks" -> tasks.sum().toDouble,
        "spark.task_run_ms" -> taskRunMs.sum().toDouble,
        "spark.task_cpu_ms" -> taskCpuNs.sum() / 1e6,
        "spark.shuffle_bytes" -> shuffleBytes.sum().toDouble,
        "spark.gc_ms" -> gcMs.toDouble,
        "sink.files_read" -> filesRead.sum().toDouble,
        "sink.bytes_read" -> bytesRead.sum().toDouble)
    }

  private def spanAt(epochMs: Long, group: String): Option[Span] = {
    val byGroup = if (group.startsWith("pb-")) spans.lift(group.drop(3).toInt) else None
    def open(s: Span) = s.startEpochMs <= epochMs && epochMs <= s.endEpochMs
    byGroup.filter(open).orElse(spans.filter(open).lastOption)
  }

  /** Writes every span with its attributed jobs, tasks, task time and
    * planning time, plus its self time (duration minus its children's).
    */
  def write(path: java.nio.file.Path, header: Map[String, Any]): Unit = if (enabled) {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    def add(s: Span, k: String, v: Double): Unit = s.counts(k) = s.counts.getOrElse(k, 0.0) + v
    jobInfo.asScala.foreach { case (_, (group, at)) => spanAt(at, group).foreach(add(_, "jobs", 1)) }
    taskEnds.asScala.foreach { case (stage, run, cpu) =>
      Option(stageJob.get(stage)).flatMap(j => Option(jobInfo.get(j))).flatMap {
        case (group, at) => spanAt(at, group)
      }.foreach { s => add(s, "tasks", 1); add(s, "task_run_ms", run); add(s, "task_cpu_ms", cpu / 1e6) }
    }
    plans.asScala.foreach { case (at, p, files, bytes) =>
      spanAt(at, "").foreach { s => add(s, "plan_ms", p); add(s, "files_read", files); add(s, "bytes_read", bytes) }
    }
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    header.foreach { case (k, v) => root.put(k, String.valueOf(v)) }
    val arr = root.putArray("spans")
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    def durMs(s: Span) = (s.endNs - s.startNs) / 1e6
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += durMs(s))
    spans.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("start_ms", (s.startNs - t0) / 1e6); o.put("end_ms", (s.endNs - t0) / 1e6)
      o.put("self_ms", durMs(s) - childMs(s.id))
      s.counts.foreach { case (k, v) => o.put(k, v) }
    }
    java.nio.file.Files.createDirectories(path.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(path.toFile, root)
  }
}
