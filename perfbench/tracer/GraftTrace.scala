package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Out-of-process view of one application, recorded through Spark's
  * public listener hooks only:
  *
  *  - `spark.extraListeners=perfbench.TraceListener` sees SQL
  *    executions, jobs, stages and task metrics;
  *  - `spark.sql.queryExecutionListeners=perfbench.QueryTraceListener`
  *    sees each finished root action's QueryExecution: its action name,
  *    Catalyst phase times, final adaptive plan and the paths it read
  *    and wrote.
  *
  * Both are registered on Spark's shared listener queue, so they run on
  * one thread in event order. Everything is kept in memory and written
  * as one JSON file (path from the `perfbench.trace` system property)
  * when the application ends.
  */
object Trace {
  final class Stage(val id: Int, val attempt: Int) {
    var jobId = -1
    var name = ""
    var numTasks = 0
    var submitted = 0L
    var completed = 0L
    var failed = false
    val m = mutable.LinkedHashMap(
      "task_run_ms" -> 0L, "task_cpu_ns" -> 0L, "gc_ms" -> 0L,
      "peak_task_mem" -> 0L, "shuffle_write_bytes" -> 0L,
      "shuffle_read_bytes" -> 0L, "fetch_wait_ms" -> 0L,
      "spill_bytes" -> 0L, "input_bytes" -> 0L, "output_bytes" -> 0L,
      "tasks_ended" -> 0L, "tasks_failed" -> 0L)
  }
  final class Job(val id: Int, val start: Long) {
    var end = 0L
    var execId = -1L
    var ok = true
    var stageIds: Seq[Int] = Nil
  }
  final class Exec(val id: Long, val root: Long, val start: Long,
      val description: String, val compile0: Long, val classes0: Long) {
    var end = 0L
    var ok = true
    var func = ""
    var compileNs = 0L
    var classes = 0L
    var writes: Seq[String] = Nil
    var reads: Seq[String] = Nil
    var phases: Map[String, Long] = Map.empty
    var plan: Map[String, Int] = Map.empty
  }

  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  @volatile var lastEnded: Option[Exec] = None
  @volatile var written = false

  def compileNs(): Long = CodeGenerator.compileTime
  def classes(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  val appCompile0: Long = compileNs()
  val appClasses0: Long = classes()
  var appStart = System.currentTimeMillis()
  var appEnd = 0L

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => q(k) + ":" + value(v) }.mkString("{", ",", "}")
  def value(v: Any): String = v match {
    case s: String => q(s)
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case m: mutable.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => q(String.valueOf(other))
  }

  def json(): String = {
    val ex = execs.values.asScala.toSeq.sortBy(_.id).map { e =>
      Map("id" -> e.id, "root" -> e.root, "start" -> e.start, "end" -> e.end,
        "ok" -> e.ok, "func" -> e.func, "description" -> e.description,
        "compile_ns" -> e.compileNs, "classes" -> e.classes,
        "writes" -> e.writes, "reads" -> e.reads,
        "phases_ms" -> e.phases, "plan" -> e.plan)
    }
    val jb = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map("id" -> j.id, "exec" -> j.execId, "start" -> j.start,
        "end" -> j.end, "ok" -> j.ok, "stages" -> j.stageIds)
    }
    val st = stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt))
      .map { s =>
        Map("id" -> s.id, "attempt" -> s.attempt, "job" -> s.jobId,
          "name" -> s.name, "tasks" -> s.numTasks, "start" -> s.submitted,
          "end" -> s.completed, "ok" -> !s.failed, "metrics" -> s.m)
      }
    value(Map(
      "app" -> Map("start" -> appStart, "end" -> appEnd,
        "compile_ns" -> (compileNs() - appCompile0),
        "classes" -> (classes() - appClasses0)),
      "executions" -> ex, "jobs" -> jb, "stages" -> st))
  }

  def write(): Unit = synchronized {
    if (!written) {
      written = true
      appEnd = System.currentTimeMillis()
      sys.props.get("perfbench.trace").foreach { p =>
        Files.write(Paths.get(p), json().getBytes(StandardCharsets.UTF_8))
      }
    }
  }
}

/** Jobs, stages, task metrics and SQL execution boundaries. */
class TraceListener extends SparkListener {
  import Trace._

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    appStart = e.time

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.jobId, e.time)
    j.stageIds = e.stageIds
    j.execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, j)
    e.stageInfos.foreach { si =>
      stages.computeIfAbsent((si.stageId, si.attemptNumber()),
        _ => new Stage(si.stageId, si.attemptNumber())).jobId = e.jobId
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val s = stages.computeIfAbsent((si.stageId, si.attemptNumber()),
      _ => new Stage(si.stageId, si.attemptNumber()))
    s.name = si.name
    s.numTasks = si.numTasks
    s.submitted = si.submissionTime.getOrElse(0L)
    s.completed = si.completionTime.getOrElse(0L)
    s.failed = si.failureReason.isDefined
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new Stage(e.stageId, e.stageAttemptId))
    def add(k: String, v: Long): Unit = s.m(k) = s.m(k) + v
    add("tasks_ended", 1)
    if (!e.taskInfo.successful) add("tasks_failed", 1)
    val t = e.taskMetrics
    if (t != null) {
      add("task_run_ms", t.executorRunTime)
      add("task_cpu_ns", t.executorCpuTime)
      add("gc_ms", t.jvmGCTime)
      s.m("peak_task_mem") = math.max(s.m("peak_task_mem"), t.peakExecutionMemory)
      add("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", t.shuffleReadMetrics.totalBytesRead)
      add("fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", t.memoryBytesSpilled + t.diskBytesSpilled)
      add("input_bytes", t.inputMetrics.bytesRead)
      add("output_bytes", t.outputMetrics.bytesWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, new Exec(s.executionId,
        s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(s.executionId),
        s.time, s.description, compileNs(), classes()))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach { x =>
        x.end = s.time
        x.ok = s.errorMessage.forall(_.isEmpty)
        x.compileNs = compileNs() - x.compile0
        x.classes = classes() - x.classes0
        lastEnded = Some(x)
      }
    case _ =>
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = write()
}

/** Action name, Catalyst phases, final-plan shape and I/O paths of each
  * finished root action. Spark delivers these right after the matching
  * SQL execution end event on the same queue, which pairs them. */
class QueryTraceListener extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Trace._

  private def paths(plan: LogicalPlan): (Seq[String], Seq[String]) = {
    val writes = mutable.LinkedHashSet[String]()
    val reads = mutable.LinkedHashSet[String]()
    def v2Path(r: DataSourceV2Relation): Option[String] =
      Option(r.options.get("path")).orElse(Some(r.table.name()))
    plan.foreach {
      case c: InsertIntoHadoopFsRelationCommand => writes += c.outputPath.toString
      case w: V2WriteCommand => w.table match {
        case r: DataSourceV2Relation => writes ++= v2Path(r)
        case _ =>
      }
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => reads ++= h.location.rootPaths.map(_.toString)
        case _ =>
      }
      case r: DataSourceV2Relation => reads ++= v2Path(r)
      case _ =>
    }
    (writes.toSeq, reads.toSeq.filterNot(writes.contains))
  }

  private def planShape(p: SparkPlan): Map[String, Int] = {
    val nodes = collectWithSubqueries(p) { case n => n }
    Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "bhj" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  private def record(func: String, qe: QueryExecution): Unit =
    lastEnded.foreach { x =>
      lastEnded = None
      x.func = func
      try {
        x.phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
        val (w, r) = paths(qe.analyzed)
        x.writes = w
        x.reads = r
        x.plan = planShape(qe.executedPlan)
      } catch { case _: Throwable => }
    }

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe)
}
