package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds from the listener
  * events Spark posts (jobs, stages, tasks, planning phases) or from the
  * harness' own clock (query, isolate, build, execute). */
final case class Span(name: String, startMs: Double, endMs: Double,
    parent: String, qid: String, id: String)

/** Per-tag counters. A tag names the leg a listener event belongs to:
  * `cold`, `warm:<pass>`, `live`, `verify`. */
final class Tally {
  val v = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
}

/** The traced run's in-memory recorder: a SparkListener for jobs, stages
  * and tasks, and a QueryExecutionListener for planning phases and the
  * final (post-AQE) plan's operator metrics. Nothing is written until
  * [[dump]]. Jobs carry the harness tag and query id as local properties;
  * planning phases are attributed to the query span that contains them
  * (queries run one at a time, closed loop). */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val tallies = new ConcurrentHashMap[String, Tally]()
  private val stageTag = new ConcurrentHashMap[Int, (String, String)]()
  private val stageShuffleRead = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  def tally(tag: String): Tally = tallies.computeIfAbsent(tag, _ => new Tally)
  def tags: Seq[(String, Tally)] = tallies.asScala.toSeq

  private def tagOf(p: java.util.Properties): (String, String) =
    if (p == null) ("untagged", "")
    else (Option(p.getProperty(Tracer.TagKey)).getOrElse("untagged"),
      Option(p.getProperty(Tracer.QidKey)).getOrElse(""))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (tag, qid) = tagOf(e.properties)
    e.stageInfos.foreach(s => stageTag.put(s.stageId, (tag, qid)))
    tally(tag).add("sched.jobs", 1)
    if (Option(e.properties).exists(_.getProperty(Tracer.PhaseKey) == "build"))
      tally(tag).add("queries.build_jobs", 1)
    jobStart.put(e.jobId, (e.time, qid))
  }
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, qid) =>
      spans.add(Span(s"job", t0.toDouble, e.time.toDouble, s"q:$qid", qid, s"job:${e.jobId}"))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val (tag, qid) = Option(stageTag.get(si.stageId)).getOrElse(("untagged", ""))
    val t = tally(tag)
    t.add("sched.stages", 1)
    if (stageShuffleRead.getOrDefault(si.stageId, false))
      t.add("shuffle.partitions_after_aqe", si.numTasks)
    for (a <- si.submissionTime; b <- si.completionTime)
      spans.add(Span("stage", a.toDouble, b.toDouble, "job", qid, s"stage:${si.stageId}"))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (tag, qid) = Option(stageTag.get(e.stageId)).getOrElse(("untagged", ""))
    val t = tally(tag)
    val info = e.taskInfo
    t.add("sched.tasks", 1)
    spans.add(Span("task", info.launchTime.toDouble, info.finishTime.toDouble,
      s"stage:${e.stageId}", qid, s"task:${info.taskId}"))
    val m = e.taskMetrics
    if (m != null) {
      t.add("exec.run_ms", m.executorRunTime.toDouble)
      t.add("exec.cpu_ns", m.executorCpuTime.toDouble)
      val overhead = m.executorDeserializeTime + m.resultSerializationTime +
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      t.add("sched.delay_ms", math.max(0L, info.duration - m.executorRunTime - overhead).toDouble)
      t.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      val r = m.shuffleReadMetrics
      t.add("shuffle.read_bytes", (r.remoteBytesRead + r.localBytesRead).toDouble)
      t.add("shuffle.fetch_wait_ms", r.fetchWaitTime.toDouble)
      if (r.localBlocksFetched + r.remoteBlocksFetched > 0) stageShuffleRead.put(e.stageId, true)
      t.add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      t.add("sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
      t.add("sources.scan_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qes.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Attribute each finished QueryExecution to the query span that holds
    * its analysis phase, then fold its phases and final-plan metrics into
    * that query's tag. Called after the listener bus has drained. */
  def foldPlans(querySpans: Seq[(Span, String)]): Unit = {
    while (!qes.isEmpty) {
      val qe = qes.poll()
      val phases = qe.tracker.phases
      val t0 = phases.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      querySpans.find { case (s, _) => s.startMs <= t0 && t0 <= s.endMs }.foreach {
        case (q, tag) =>
          val t = tally(tag)
          phases.foreach { case (name, p) =>
            t.add(s"plan.${name}_ms", p.durationMs.toDouble)
            spans.add(Span(s"plan.$name", p.startTimeMs.toDouble, p.endTimeMs.toDouble,
              s"q:${q.qid}", q.qid, s"plan:${q.qid}:$name:${p.startTimeMs}"))
          }
          foldOps(qe.executedPlan, t)
      }
    }
  }

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  /** Timing metrics in seconds: "timing" metrics hold ms, "nsTiming" ns. */
  private def timeS(p: SparkPlan): Double = p.metrics.values.map { m: SQLMetric =>
    m.metricType match {
      case "timing" => m.value / 1e3
      case "nsTiming" => m.value / 1e9
      case _ => 0.0
    }
  }.sum

  private def foldOps(plan: SparkPlan, t: Tally): Unit = foreach(plan) { p =>
    val name = p.nodeName.takeWhile(_ != ' ')
    if (Tracer.Ops.contains(name)) {
      // most operators carry no row metric; an exchange counts the records
      // its map side wrote
      t.add(s"op.$name.n", 1)
      t.add(s"op.$name.rows", metric(p, "numOutputRows") + metric(p, "shuffleRecordsWritten"))
      t.add(s"op.$name.time_s", timeS(p))
    }
    if (p.nodeName.startsWith("Scan ")) {
      t.add("sources.scan_files", metric(p, "numFiles"))
      t.add("sources.scan_ms", metric(p, "scanTime") + metric(p, "metadataTime"))
    }
  }

  /** Every span, one JSON object a line. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(Json.obj("name" -> s.name, "start" -> s.startMs, "end" -> s.endMs,
        "parent" -> s.parent, "qid" -> s.qid, "id" -> s.id))
    } finally w.close()
  }
}

object Tracer {
  val TagKey = "perfbench.tag"
  val QidKey = "perfbench.qid"
  val PhaseKey = "perfbench.phase"
  val Ops = Set("Sort", "Window", "HashAggregate", "ObjectHashAggregate",
    "SortMergeJoin", "BroadcastHashJoin", "Exchange", "MapGroups", "Generate",
    "WholeStageCodegen")
}

/** JVM-wide counters read around a leg: codegen, JIT and GC. */
final case class JvmCounters(codegenNs: Long, codegenClasses: Long, jitMs: Long, gcMs: Long)

object JvmCounters {
  def now(): JvmCounters = JvmCounters(
    CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum)

  def delta(a: JvmCounters, b: JvmCounters, t: Tally): Unit = {
    t.add("codegen.compile_s", (b.codegenNs - a.codegenNs) / 1e9)
    t.add("codegen.classes", (b.codegenClasses - a.codegenClasses).toDouble)
    t.add("jvm.jit_s", (b.jitMs - a.jitMs) / 1e3)
    t.add("jvm.gc_s", (b.gcMs - a.gcMs) / 1e3)
  }
}
