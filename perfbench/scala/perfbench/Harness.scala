package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload in this JVM and writes a JSON
  * record of raw samples (operation walls, checks, listener counters,
  * spans). `run.py` turns the record into metrics; this side only
  * measures. It calls the program through its public entry points
  * (the per-module query maps, `telecom.Pipeline`,
  * `streaming.FraudDetection`, `telecom.Generators`) and observes
  * layers from outside through listeners it registers itself.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1 --out F
  * with the working directory set to a fresh per-run directory: every
  * relative path the program writes (target/, spark-warehouse/) lands
  * there, so each run starts from the same on-disk state.
  */
object Harness {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  /** Set-up is repeated and reported as a median; the first cycle
    * also carries JVM start. */
  val SetupCycles = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("out"))
    val run = new Run(args)
    val result = Try(args.workload match {
      case "queries" => QueryWorkload.run(run)
      case "telecom" => MedallionWorkload.run(run); FraudWorkload.run(run)
      case other => sys.error(s"unknown workload $other")
    })
    result match {
      case Failure(t) =>
        val sw = new java.io.StringWriter()
        t.printStackTrace(new java.io.PrintWriter(sw))
        run.record("error") = sw.toString
      case Success(_) =>
    }
    run.finish()
    sys.exit(if (result.isSuccess) 0 else 1)
  }
}

/** Session settings of the program's own main for each path. */
object Sessions {
  def settings(path: String): Seq[(String, String)] = {
    val cores = Harness.Cores.toString
    val base = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC")
    val extensions = "spark.sql.extensions" -> "graft.plans.GraftExtensions"
    path match {
      // graft.Bench
      case "queries" => base ++ Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true", extensions)
      // graft.PipelineRun
      case "medallion" => base
      // graft.StreamBench
      case "fraud_stream" => base :+ extensions
      case other => sys.error(s"unknown workload $other")
    }
  }
}

/** State of one benchmark run: the session, the listeners, the spans
  * and the record that is written at the end. */
final class Run(val args: Harness.Args) {
  val spans = new Spans(args.trace)
  val record = mutable.LinkedHashMap[String, Any]()
  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  val planRec = new PlanRecorder
  val streamRec = new StreamRecorder
  val settings = mutable.LinkedHashMap[String, Map[String, String]]()
  val windows = mutable.ArrayBuffer[(Double, Double)]()
  val rootSpan: Long = spans.nextId()
  private val rootStart = Clock.nowMs
  val sparkRec = new SparkRecorder(spans, args.trace)
  var spark: SparkSession = _

  /** Replace the session with a fresh one configured like the
    * program's main for `path`. */
  def newSession(path: String): Unit = {
    if (spark != null) spark.stop()
    val conf = Sessions.settings(path)
    settings(path) = conf.toMap
    val b = SparkSession.builder().appName(s"perfbench-$path")
    conf.foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(sparkRec)
    spark.streams.addListener(streamRec)
  }

  /** Set up `SetupCycles` times: a fresh session with the workload's
    * settings, then `prepare` (inputs ready). The first cycle is timed
    * from JVM start. */
  def setup(path: String)(prepare: Int => Unit): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cycles = (1 to Harness.SetupCycles).map { i =>
      val t0 = if (i == 1) jvmStart else Clock.nowMs
      newSession(path)
      Tags.set(spark, "setup", s"cycle$i", rootSpan)
      prepare(i)
      val t1 = Clock.nowMs
      spans.add(Span(spans.nextId(), rootSpan, "setup", s"cycle$i", t0, t1))
      (t1 - t0) / 1000
    }
    record("setup_cycles_s") = cycles
  }

  /** Mark [start, now] as timed work of the run. */
  def timed(start: Double): Unit = windows += ((start, Clock.nowMs))

  def check(name: String, ok: Boolean, detail: Any): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  def op(kind: String, name: String, wallS: Double, ok: Boolean, error: Option[Throwable],
         extra: (String, Any)*): Unit =
    ops += (Map[String, Any]("kind" -> kind, "name" -> name, "wall_s" -> wallS, "ok" -> ok,
      "error" -> error.map(_.toString.take(500))) ++ extra)

  def clearCaches(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  def finish(): Unit = {
    val end = Clock.nowMs
    spans.add(Span(rootSpan, 0L, "workload", args.workload, rootStart, end))
    if (spark != null) {
      Try(sparkRec.drain(spark))
      record("spark_window") = sparkRec.byOp("window")
      record("job_intervals") = sparkRec.intervals("window").map(i => Seq(i._1, i._2))
    }
    record("workload") = args.workload
    record("seed") = args.seed
    record("seconds") = args.seconds
    record("trace") = args.trace
    record("cores") = Harness.Cores
    record("heap_mb") = Runtime.getRuntime.maxMemory() / (1024L * 1024)
    record("spark_version") = org.apache.spark.SPARK_VERSION
    record("java_version") = System.getProperty("java.version")
    record("settings") = settings
    record("windows") = windows.map(w => Seq(w._1, w._2))
    record("ops") = ops.toList
    record("checks") = checks.toList
    record("spans") = spans.all
    Files.write(Paths.get(args.out), Json(record).getBytes("UTF-8"))
    if (spark != null) Try(spark.stop())
  }
}

/** Time `f` in seconds, capturing a failure instead of throwing. */
object Timed {
  def apply[T](f: => T): (Double, Try[T]) = {
    val t0 = System.nanoTime()
    val r = Try(f)
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def deleteDirs(names: String*): Unit =
    names.foreach(n => FileUtils.deleteQuietly(new File(n)))
}
