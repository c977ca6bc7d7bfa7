package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One run's clock. Spans the harness records itself use `nanoTime`; Spark
  * listener events carry epoch milliseconds. Both map onto seconds since
  * the run started. */
final class Clock {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - nano0) / 1e9
  def ofEpochMs(ms: Long): Double = (ms - epochMs0) / 1e3
}

/** A timed interval with the span that caused it (`parent`, -1 for the
  * root). `attrs` carries counts measured at the same boundary. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double, attrs: Map[String, Any]) {
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "start" -> start, "end" -> end,
    "attrs" -> attrs)
}

/** In-memory span store: spans are kept until the run ends and written
  * once, so recording costs no I/O while queries run. */
final class Spans(val clock: Clock) {
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  private val done = new ConcurrentLinkedQueue[Span]()

  def nextId(): Int = ids.getAndIncrement()
  def add(s: Span): Unit = done.add(s)

  /** Runs `body` inside a span of its own; the span is recorded even when
    * `body` throws. */
  def timed[T](id: Int, parent: Int, kind: String, name: String,
      attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = clock.now
    try body finally add(Span(id, parent, kind, name, t0, clock.now, attrs))
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Scheduler-level tracing: job and stage spans plus per-stage task
  * counters. Jobs are attributed to the query phase that ran them through
  * the job group and the [[Tracer.PhaseProperty]] local property. */
final class JobListener(spans: Spans, phaseSpan: (String, String) => Option[Int])
    extends SparkListener {
  private final class JobOpen(val id: Int, val parent: Int, val start: Double,
      val stageIds: Seq[Int])
  private final class StageTasks {
    var tasks, failed = 0L
    var durationMs, runMs, cpuNs, gcMs, waitMs = 0L
    var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobOpen]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val submitted = new ConcurrentHashMap[(Int, Int), Long]()
  private val tasks = new ConcurrentHashMap[(Int, Int), StageTasks]()
  private def clock = spans.clock

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val parent = for {
      p <- props
      group <- Option(p.getProperty("spark.jobGroup.id"))
      phase <- Option(p.getProperty(Tracer.PhaseProperty))
      id <- phaseSpan(group, phase)
    } yield id
    // jobs of queries outside a traced pass have no phase span: skipped
    parent.foreach { pid =>
      val open = new JobOpen(spans.nextId(), pid, clock.ofEpochMs(e.time),
        e.stageIds)
      jobs.put(e.jobId, open)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      spans.add(Span(j.id, j.parent, "job", s"job ${e.jobId}", j.start,
        clock.ofEpochMs(e.time), Map("stages" -> j.stageIds.size,
          "succeeded" -> (e.jobResult == JobSucceeded))))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    i.submissionTime.foreach(t =>
      submitted.put((i.stageId, i.attemptNumber()), t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = tasks.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new StageTasks)
    val info = e.taskInfo
    st.synchronized {
      st.tasks += 1
      if (e.reason != Success) st.failed += 1
      st.durationMs += info.duration
      Option(submitted.get((e.stageId, e.stageAttemptId))).foreach(s =>
        st.waitMs += math.max(0L, info.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.spillBytes += m.memoryBytesSpilled
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    for {
      jobId <- Option(stageJob.get(i.stageId))
      job <- Option(jobs.get(jobId))
      start <- i.submissionTime
      end <- i.completionTime
    } {
      val st = Option(tasks.remove(key)).getOrElse(new StageTasks)
      spans.add(Span(spans.nextId(), job.id, "stage",
        s"stage ${i.stageId}.${i.attemptNumber()}",
        clock.ofEpochMs(start), clock.ofEpochMs(end),
        st.synchronized(Map("num_tasks" -> i.numTasks, "tasks" -> st.tasks,
          "failed_tasks" -> st.failed, "task_duration_ms" -> st.durationMs,
          "run_ms" -> st.runMs, "cpu_ns" -> st.cpuNs, "gc_ms" -> st.gcMs,
          "task_wait_ms" -> st.waitMs,
          "shuffle_write_bytes" -> st.shuffleWriteBytes,
          "shuffle_read_bytes" -> st.shuffleReadBytes,
          "fetch_wait_ms" -> st.fetchWaitMs, "spill_bytes" -> st.spillBytes))))
    }
    submitted.remove(key)
  }
}

/** Catalyst-level tracing: one record per executed query plan with its
  * planning-phase times and the SQLMetrics of every graft physical node,
  * so a silent fallback to a stock operator shows as zero graft nodes. */
final class PlanListener(clock: Clock) extends QueryExecutionListener {
  private val out = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val nodes = scala.util.Try(PlanNodes.graft(qe.executedPlan))
        .getOrElse(Nil)
      out.add(Map(
        "start" -> clock.ofEpochMs(phases.values.map(_.startTimeMs).min),
        "phases" -> phases.map { case (k, v) => k -> v.durationMs / 1e3 },
        "graft_nodes" -> nodes.map(n => Map(
          "node" -> n.getClass.getSimpleName,
          "metrics" -> n.metrics.map { case (k, m) => k -> m.value }))))
    }
  }

  def records: Seq[Map[String, Any]] = out.asScala.toSeq
}

object PlanNodes extends AdaptiveSparkPlanHelper {
  /** Every physical node the graft engine planned, across adaptive query
    * stages and subqueries, each counted once. */
  def graft(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = mutable.Set.empty[Int]
    collectWithSubqueries(plan) {
      case p if p.getClass.getName.startsWith("graft.") => p
    }.filter(p => seen.add(p.id))
  }
}

object Tracer {
  /** Local property naming the query phase (construct, plan, execute)
    * whose jobs the scheduler is running. */
  val PhaseProperty = "perfbench.phase"
}
