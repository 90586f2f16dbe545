package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, WriteFilesExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so
  * harness spans and Spark listener timestamps share one time base. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double)

/** In-memory span buffer, written out once at the end of the run. */
final class Spans(val enabled: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.start)
}

/** Local properties that tag every Spark job with the harness phase
  * (`setup`, `check`, `window`, ...), the operation name and the span
  * that caused it; the listeners read them back from job events. */
object Tags {
  val Phase = "perfbench.phase"
  val Op = "perfbench.op"
  val Parent = "perfbench.span"
  def set(spark: SparkSession, phase: String, op: String, parent: Long): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Phase, phase)
    sc.setLocalProperty(Op, op)
    sc.setLocalProperty(Parent, parent.toString)
  }
}

/** Task counters summed over the tasks of one (phase, operation). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, deserMs, schedMs, fetchWaitMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes = 0L
  var outputBytes, outputRecords, spillBytes = 0L
  var scanTasks, scanRunMs = 0L
  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_run_ms" -> runMs,
    "task_cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "deser_ms" -> deserMs,
    "sched_delay_ms" -> schedMs, "fetch_wait_ms" -> fetchWaitMs,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "output_bytes" -> outputBytes,
    "output_records" -> outputRecords, "spill_bytes" -> spillBytes,
    "scan_tasks" -> scanTasks, "scan_run_ms" -> scanRunMs)
}

/** Job/stage/task listener the benchmark registers itself. Events of
  * the timed window are ignored unless `traceWindow` is set, so an
  * untraced window pays only the listener-bus dispatch. */
final class SparkRecorder(spans: Spans, traceWindow: Boolean) extends SparkListener {
  private val counters = mutable.Map[(String, String), Counters]()
  private val stageOwner = mutable.Map[Int, ((String, String), Long)]()
  private val openJobs = mutable.Map[Int, (Long, Long, (String, String), Double)]()
  private val jobIntervals = mutable.ArrayBuffer[(String, Double, Double)]()
  private var sentinelsSeen = 0L

  private def accepted(phase: String): Boolean =
    phase != null && (phase != "window" || traceWindow)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = e.properties
    val phase = if (props == null) null else props.getProperty(Tags.Phase)
    if (accepted(phase)) {
      val key = (phase, props.getProperty(Tags.Op))
      val parent = Option(props.getProperty(Tags.Parent)).map(_.toLong).getOrElse(0L)
      val id = spans.nextId()
      counters.getOrElseUpdate(key, new Counters).jobs += 1
      e.stageIds.foreach(s => stageOwner(s) = (key, id))
      openJobs(e.jobId) = (id, parent, key, e.time.toDouble)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (id, parent, key, start) =>
      if (key._1 == "sentinel") sentinelsSeen += 1
      spans.add(Span(id, parent, "job", s"job ${e.jobId}", start, e.time.toDouble))
      jobIntervals += ((key._1, start, e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner.get(info.stageId).foreach { case (key, jobSpan) =>
      counters(key).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        spans.add(Span(spans.nextId(), jobSpan, "stage",
          s"stage ${info.stageId}", s.toDouble, c.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (key, _) =>
      val c = counters(key)
      val info = e.taskInfo
      c.tasks += 1
      if (info.failed) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.deserMs += m.executorDeserializeTime
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        c.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) {
          c.scanTasks += 1
          c.scanRunMs += m.executorRunTime
        }
      }
    }
  }

  /** Block until every event posted before this call has reached the
    * listener: listener-bus queues are FIFO, so once a tagged one-task
    * job's end arrives, everything queued ahead of it has been seen. */
  def drain(spark: SparkSession): Unit = {
    val before = synchronized(sentinelsSeen)
    Tags.set(spark, "sentinel", "sentinel", 0L)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 10000000000L
    while (synchronized(sentinelsSeen) == before && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  def byOp(phase: String): Map[String, Map[String, Long]] = synchronized {
    counters.collect { case ((p, op), c) if p == phase => op -> c.toMap }.toMap
  }

  def intervals(phase: String): Seq[(Double, Double)] = synchronized {
    jobIntervals.collect { case (p, s, e) if p == phase => (s, e) }.toSeq
  }
}

/** One analyzed-and-executed query as the QueryExecutionListener saw
  * it: where it wrote (a file path, "v2" for a DataSource V2 sink such
  * as noop, "" for no write), the executed operator tree (AQE final
  * plan, write node removed) and the Catalyst phase times. */
final case class PlanEvent(funcName: String, target: String, tree: String,
                           planStart: Double, planEnd: Double, planMs: Double)

final class PlanRecorder extends QueryExecutionListener {
  private val events = mutable.ArrayBuffer[PlanEvent]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val plan = qe.executedPlan
    val target = PlanRecorder.nodes(plan).collectFirst {
      case _: V2TableWriteExec => "v2"
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        case _ => "command"
      }
    }.getOrElse("")
    val phases = qe.tracker.phases.filter { case (k, _) => k != "parsing" }.values
    val start = if (phases.isEmpty) 0.0 else phases.map(_.startTimeMs).min.toDouble
    val end = if (phases.isEmpty) 0.0 else phases.map(_.endTimeMs).max.toDouble
    val ev = PlanEvent(funcName, target, PlanRecorder.tree(plan), start, end,
      phases.map(_.durationMs).sum.toDouble)
    synchronized { events += ev }
  }

  def clear(): Unit = synchronized(events.clear())

  /** Wait until an event matching `last` arrives, then hand over (and
    * forget) every event up to and including it. */
  def takeUntil(last: PlanEvent => Boolean): Seq[PlanEvent] = {
    val deadline = System.nanoTime() + 10000000000L
    while (!synchronized(events.exists(last)) && System.nanoTime() < deadline) Thread.sleep(2)
    synchronized {
      val n = events.indexWhere(last) + 1
      val out = if (n > 0) events.take(n).toList else events.toList
      events.remove(0, out.size)
      out
    }
  }
}

object PlanRecorder {
  /** Every node of an executed plan, looking through AQE wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Operator-name tree of an executed plan. AQE wrappers, query
    * stages, codegen adapters and the write node are looked through,
    * so the string names the physical operators that ran, in order. */
  def tree(p: SparkPlan): String = p match {
    case a: AdaptiveSparkPlanExec => tree(a.executedPlan)
    case s: QueryStageExec => tree(s.plan)
    case i: InputAdapter => tree(i.child)
    case w: WholeStageCodegenExec => tree(w.child)
    case w: V2TableWriteExec => tree(w.query)
    case w: DataWritingCommandExec => tree(w.child)
    case w: WriteFilesExec => tree(w.child)
    case other =>
      val kids = other.children.map(tree) ++ other.subqueries.map(s => "subquery:" + tree(s))
      other.nodeName + (if (kids.isEmpty) "" else kids.mkString("(", ",", ")"))
  }
}

/** Per-micro-batch record taken from StreamingQueryProgress. */
final case class BatchRecord(batchId: Long, startMs: Double, endMs: Double,
                             startOffset: Long, endOffset: Long, inputRows: Long,
                             phasesMs: Map[String, Long], stateRows: Long,
                             stateBytes: Long, stateCommitMs: Long,
                             droppedByWatermark: Long, statePartitions: Long)

final class StreamRecorder extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer[BatchRecord]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    def offset(s: String): Long =
      if (s == null || s.isEmpty || s == "null") -1L else s.trim.toLong
    val src = p.sources.headOption
    val st = p.stateOperators.headOption
    val rec = BatchRecord(p.batchId, start, start + durations.getOrElse("triggerExecution", 0L),
      src.map(s => offset(s.startOffset)).getOrElse(-1L),
      src.map(s => offset(s.endOffset)).getOrElse(-1L),
      p.numInputRows, durations,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.commitTimeMs).getOrElse(0L), st.map(_.numRowsDroppedByWatermark).getOrElse(0L),
      st.map(_.numShufflePartitions).getOrElse(0L))
    synchronized(batches += rec)
  }

  def all: Seq[BatchRecord] = synchronized(batches.toList)
}
