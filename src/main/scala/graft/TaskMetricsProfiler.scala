package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Physical resource profile of a query run, summed over the tasks of
  * the jobs it submitted between `reset()` and `snapshot()`, with one
  * row per stage.
  *
  * Wall time is a noisy scale signal (host drift, GC, neighbors —
  * the whole Bench scaladoc); BYTES are deterministic: the same plan
  * over the same data reads and shuffles the same bytes every run.
  * So the profiler serves jobs the timers can't:
  *   - ScaleSweep emits shuffle-bytes growth exponents alongside the
  *     time exponents — a noise-free check that a plan's data
  *     movement (not just its wall clock) grows sublinearly. A query
  *     whose time exponent looks fine on a quiet host but whose
  *     shuffle bytes grow at e=2 is a scale bug the time sweep can
  *     miss; the reverse (time drifts, bytes flat) is host noise.
  *   - Bench's record carries per-query input/shuffle/spill bytes, the
  *     measured companion to PlanHygieneSpec's structural allowlist.
  *     Spill evidence is the point at 100 TB: a query spilling at
  *     sf0.1 under 32 local cores is guaranteed to spill on real
  *     executors; zero-spill across the suite is the claim worth
  *     committing.
  *   - The stage rows locate what the per-query totals cannot: which
  *     exchange, sort or aggregate paid a spill (SpillAudit prints
  *     them; round 9 attributed q225's sf100 spill this way).
  *
  * Each row is summed from the task-end events of its stage, so the
  * rows add up to the totals exactly; the stage's name and call site
  * arrive with its completion event.
  *
  * A window is scoped by JOB TAG, not by time: `reset()` tags the
  * calling thread's jobs with a fresh tag, and a stage counts only if
  * the job that submitted it carried the window's tag (the
  * `spark.job.tags` property of its job-start event). The listener
  * bus is asynchronous, so a task of an earlier job (a previous
  * query's last rep) can end, or be delivered, after `reset()`; a time
  * window counted it into the next query's row (23 of 280 Bench
  * profiles differed between two identical full-suite runs).
  */
final class TaskMetricsProfiler private (sc: SparkContext) extends SparkListener {
  import TaskMetricsProfiler.{Profile, Stage}

  private val stages = new ConcurrentHashMap[Int, Stage]()
  /** stage id → the window tag of the job that submitted it */
  private val stageTags = new ConcurrentHashMap[Int, String]()
  @volatile private var tag: String = null

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val current = tag
    val jobTags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
    if (jobTags.exists(_.split(",").contains(current)))
      e.stageIds.foreach(stageTags.put(_, current))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && tag == stageTags.get(e.stageId)) {
      val task = Stage(e.stageId, "", "", Profile.ofTask(m))
      stages.merge(e.stageId, task, (a, b) => a.copy(metrics = a.metrics + b.metrics))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages.computeIfPresent(si.stageId, (_, s) => s.copy(
      name = si.name.take(160),
      site = si.details.linesIterator.take(6).mkString(" | ").take(500)))
  }

  /** Open a new window: forget the counted stages and move the
    * calling thread's job tag to a fresh one. */
  def reset(): Unit = {
    Option(tag).foreach(sc.removeJobTag)
    tag = s"graft-profile-${TaskMetricsProfiler.windows.incrementAndGet()}"
    stageTags.clear()
    stages.clear()
    sc.addJobTag(tag)
  }

  /** Drain the async listener bus, then read the counters. Call with
    * the action already complete; safe outside any timer. */
  def snapshot(spark: SparkSession): Profile = {
    GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    val rows = stages.values.asScala.toSeq.sortBy(_.id)
    rows.map(_.metrics).foldLeft(Profile.zero)(_ + _).copy(stages = rows)
  }
}

object TaskMetricsProfiler {
  /** Bytes moved and spilled by a set of tasks. `stages` is filled on
    * a snapshot's totals only; `+` adds the totals and keeps no rows. */
  final case class Profile(inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, diskSpillBytes: Long, memSpillBytes: Long,
      tasks: Long, stages: Seq[Stage] = Nil) {
    def +(o: Profile): Profile = Profile(
      inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, diskSpillBytes + o.diskSpillBytes,
      memSpillBytes + o.memSpillBytes, tasks + o.tasks)

    def json: String =
      s"""{"input":$inputBytes,"shuffle_read":$shuffleReadBytes,""" +
        s""""shuffle_write":$shuffleWriteBytes,"disk_spill":$diskSpillBytes,""" +
        s""""mem_spill":$memSpillBytes,"tasks":$tasks}"""
  }

  object Profile {
    val zero: Profile = Profile(0L, 0L, 0L, 0L, 0L, 0L)

    def ofTask(m: TaskMetrics): Profile = Profile(
      m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.memoryBytesSpilled, tasks = 1L)
  }

  /** One stage's row: id, name, call site and the metrics of its tasks. */
  final case class Stage(id: Int, name: String, site: String, metrics: Profile) {
    def json: String = {
      val j = new com.fasterxml.jackson.databind.ObjectMapper()
      s"""{"stage":$id,"name":${j.writeValueAsString(name)},""" +
        metrics.json.stripPrefix("{").stripSuffix("}") +
        s""","site":${j.writeValueAsString(site)}}"""
    }
  }

  private val windows = new java.util.concurrent.atomic.AtomicLong()

  /** Register a profiler on the session (once per session), with its
    * first window open on the calling thread. */
  def install(spark: SparkSession): TaskMetricsProfiler = {
    val p = new TaskMetricsProfiler(spark.sparkContext)
    p.reset()
    spark.sparkContext.addSparkListener(p)
    p
  }
}
