package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution counters of one measured scope (an entry, a pass, a phase). */
final class Counters {
  val jobs, stages, tasks, jobMs, taskRunMs, taskCpuNs, taskWaitMs,
    shuffleWriteBytes, shuffleReadBytes, spillBytes, gcMs, taskFailures,
    executions, planningMs, broadcasts, exchanges, nlj = new LongAdder

  def values: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "job_ms" -> jobMs,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs,
    "task_wait_ms" -> taskWaitMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "gc_ms" -> gcMs, "task_failures" -> taskFailures,
    "executions" -> executions, "planning_ms" -> planningMs,
    "broadcasts" -> broadcasts, "exchanges" -> exchanges, "nlj" -> nlj,
  ).map { case (k, v) => k -> v.sum }
}

/** One traced interval. Times are epoch microseconds; `parent` 0 is a root. */
final case class Span(id: Long, kind: String, name: String, startUs: Long,
                      endUs: Long, parent: Long, attrs: Map[String, String])

/** Execution profile taken from outside the engine: a SparkListener (jobs,
  * stages, tasks and SQL executions), a QueryExecutionListener (executed
  * plans, including checkpoint materializations) and spans recorded around
  * the benchmark's own calls. Everything a listener sees is charged to the
  * scope open on the main thread; [[close]] drains the listener
  * bus before a scope ends, so no event lands in the wrong scope. Spans are
  * kept in memory and written once, by [[writeSpans]]. */
final class Profile(spark: SparkSession, val traceId: String) {
  @volatile private var scope = "setup"
  @volatile private var scopeSpan = 0L
  private val scopes = new ConcurrentHashMap[String, Counters]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val jobStarts = new ConcurrentHashMap[Int, Profile.JobStart]()
  private val sqlStarts = new ConcurrentHashMap[Long, (Long, Long)]()

  def counters(name: String): Counters = scopes.computeIfAbsent(name, _ => new Counters)
  private def current: Counters = counters(scope)

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def addSpan(kind: String, name: String, startUs: Long, endUs: Long,
              parent: Long, attrs: Map[String, String] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, kind, name, startUs, endUs, parent, attrs))
    id
  }

  /** Run `body` as a span of `kind` under `parent`, charging every listener
    * event in between to the counters named `scopeName`. */
  def within[T](kind: String, name: String, parent: Long, scopeName: String)
               (body: Long => T): T = {
    val id = ids.incrementAndGet()
    val (prevScope, prevSpan) = (scope, scopeSpan)
    close()
    scope = scopeName
    scopeSpan = id
    val t0 = nowUs
    try body(id)
    finally {
      close()
      spans.add(Span(id, kind, name, t0, nowUs, parent, Map.empty))
      scope = prevScope
      scopeSpan = prevSpan
    }
  }

  /** Deliver every pending listener event to the scope that caused it. */
  def close(): Unit = BusDrain(spark.sparkContext)

  private def executedNodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => executedNodes(a.executedPlan)
    case _: ReusedExchangeExec => Iterator.empty
    case q: QueryStageExec => executedNodes(q.plan)
    case other => Iterator.single(other) ++
      (other.children.iterator ++ other.subqueries.iterator).flatMap(executedNodes)
  }

  private def recordPlan(qe: QueryExecution): Unit = {
    val c = current
    c.executions.increment()
    c.planningMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
    executedNodes(qe.executedPlan).foreach {
      case _: ShuffleExchangeExec => c.exchanges.increment()
      case _: BroadcastExchangeExec => c.broadcasts.increment()
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => c.nlj.increment()
      case _ => ()
    }
  }

  private val sqlListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPlan(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      recordPlan(qe)
  }

  private def prop(p: java.util.Properties, k: String): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(k))).flatMap(_.toLongOption)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      current.jobs.increment()
      jobStarts.put(e.jobId, Profile.JobStart(e.time,
        prop(e.properties, "spark.sql.execution.id"),
        prop(e.properties, "streaming.sql.batchId"), scopeSpan))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { s =>
        current.jobMs.add(e.time - s.ms)
        val attrs = Map("job" -> e.jobId.toString) ++
          s.execId.map(x => "sql" -> x.toString) ++
          s.batchId.map(x => "batch" -> x.toString)
        addSpan("job", s"job ${e.jobId}", s.ms * 1000, e.time * 1000, s.scopeSpan, attrs)
        ()
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      val submitted: Long = i.submissionTime.getOrElse(System.currentTimeMillis())
      stageSubmit.put((i.stageId, i.attemptNumber()), submitted)
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      current.stages.increment()
      stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = current
      c.tasks.increment()
      if (e.taskInfo.failed || e.taskInfo.killed) c.taskFailures.increment()
      Option(stageSubmit.get((e.stageId, e.stageAttemptId))).foreach { t =>
        c.taskWaitMs.add(math.max(0L, e.taskInfo.launchTime - t))
      }
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs.add(m.executorRunTime)
        c.taskCpuNs.add(m.executorCpuTime)
        c.gcMs.add(m.jvmGCTime)
        c.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
        c.spillBytes.add(m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId, (s.time, scopeSpan)); ()
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(s.executionId)).foreach { case (t0, parent) =>
          addSpan("sql execution", s"sql ${s.executionId}", t0 * 1000, s.time * 1000,
            parent, Map("sql" -> s.executionId.toString))
        }
      case _ => ()
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(sqlListener)

  def stop(): Unit = {
    close()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
  }

  /** Spans with their final parents: a job hangs under its SQL execution,
    * or under the micro-batch named by its `streaming.sql.batchId`; a SQL
    * execution whose jobs carry a batch id hangs under that micro-batch. */
  def resolved(batchSpans: Map[Long, Long]): Seq[Span] = {
    val all = spans.asScala.toSeq
    val sqlSpan = all.filter(_.kind == "sql execution")
      .map(s => s.attrs("sql").toLong -> s.id).toMap
    val sqlBatch = all.filter(_.kind == "job")
      .flatMap(j => for (x <- j.attrs.get("sql"); b <- j.attrs.get("batch"))
        yield x.toLong -> b.toLong).toMap
    all.map {
      case j if j.kind == "job" =>
        val p = j.attrs.get("sql").flatMap(x => sqlSpan.get(x.toLong))
          .orElse(j.attrs.get("batch").flatMap(b => batchSpans.get(b.toLong)))
        j.copy(parent = p.getOrElse(j.parent))
      case s if s.kind == "sql execution" =>
        s.copy(parent = sqlBatch.get(s.attrs("sql").toLong)
          .flatMap(batchSpans.get).getOrElse(s.parent))
      case other => other
    }
  }

  def writeSpans(all: Seq[Span], file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startUs).foreach { s =>
      w.println(Json.write(Map("trace" -> traceId, "span" -> s.id,
        "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)))
    } finally w.close()
  }
}

object Profile {
  private final case class JobStart(ms: Long, execId: Option[Long],
                                    batchId: Option[Long], scopeSpan: Long)

  /** The `spark.*` and `sql.*` metrics of summed [[Counters]] values, per
    * unit of work (a pass, a micro-batch); parallel efficiency is task run
    * time over `wallS` times `cpus`. */
  def layerMetrics(c: Map[String, Long], units: Double, wallS: Double,
                   cpus: Int): Map[String, Double] = {
    def per(k: String, scale: Double = 1.0) = c.getOrElse(k, 0L) / scale / units
    Map(
      "spark.jobs" -> per("jobs"),
      "spark.stages" -> per("stages"),
      "spark.tasks" -> per("tasks"),
      "spark.job_s" -> per("job_ms", 1e3),
      "spark.task_run_s" -> per("task_run_ms", 1e3),
      "spark.task_cpu_s" -> per("task_cpu_ns", 1e9),
      "spark.task_wait_s" -> per("task_wait_ms", 1e3),
      "spark.parallel_efficiency" ->
        (if (wallS > 0) c.getOrElse("task_run_ms", 0L) / 1e3 / (wallS * cpus) else 0.0),
      "spark.shuffle_write_mb" -> per("shuffle_write_bytes", 1048576.0),
      "spark.shuffle_read_mb" -> per("shuffle_read_bytes", 1048576.0),
      "spark.spill_mb" -> per("spill_bytes", 1048576.0),
      "spark.gc_s" -> per("gc_ms", 1e3),
      "spark.task_failures" -> per("task_failures"),
      "sql.executions" -> per("executions"),
      "sql.planning_s" -> per("planning_ms", 1e3),
      "sql.broadcasts_run" -> per("broadcasts"),
      "sql.exchanges_run" -> per("exchanges"),
      "sql.nlj_run" -> per("nlj"))
  }

  /** Length of the part of [from, to) that the intervals cover. */
  def covered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, end = 0L
    var start = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (start == Long.MinValue || a > end) {
        if (start != Long.MinValue) total += end - start
        start = a; end = b
      } else end = math.max(end, b)
    }
    if (start != Long.MinValue) total += end - start
    total
  }

  /** Self time of each span kind: duration minus the part its children cover. */
  def selfTimeByKind(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
        (s.endUs - s.startUs) - covered(s.startUs, s.endUs, kids)
      }.sum / 1e6
    }
  }
}
