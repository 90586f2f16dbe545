package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one session factory: its settings, that no main builds a
  * session of its own (the drift that left PipelineRun without the
  * extensions and StreamBench without nanosAsLong), that no operator
  * falls back when the extensions are missing, and that scan fan-out
  * is decided by the planner alone. */
class GraftSessionSpec extends SparkSpec {

  test("the factory's session carries the extensions, nanosAsLong, UTC and n shuffle partitions") {
    assert(spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("graft_dot_long")), "GraftExtensions not loaded")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    val n = spark.sparkContext.defaultParallelism
    assert(spark.sparkContext.master === s"local[$n]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === n.toString)
  }

  test("no main source other than GraftSession builds a session or registers a listener") {
    val root = Paths.get("src/main/scala")
    def filesWith(pattern: String): Seq[String] = {
      val re = pattern.r
      Files.walk(root).iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
        .map(root.relativize(_).toString).toSeq.sorted
    }
    assert(filesWith("""SparkSession\.builder""") === Seq("graft/GraftSession.scala"))
    assert(filesWith("""(new|extends)\s+[\w.]*SparkListener\b""") ===
      Seq("graft/TaskMetricsProfiler.scala"))
    // GraftExtensions is required: no operator keeps a second code
    // path behind a catalog lookup, or registers its own strategy,
    // for sessions without it
    assert(filesWith("""functionExists\(""") === Nil)
    assert(filesWith("""extraStrategies""") === Nil)
  }

  test("no main source fans a frame out by hand: a keyless repartition is a single-file write") {
    // plans.FanOutUnderSplitScans is the only round-robin fan-out; the
    // exceptions write one file per index part
    val root = Paths.get("src/main/scala")
    val keyless = """\.repartition\(\s*[^,()"$]+\)""".r
    val calls = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => keyless.findAllIn(Files.readString(p))
        .map(m => root.relativize(p).toString -> m.replaceAll("\\s", "")))
      .sorted
    assert(calls === Seq(
      "graft/operators/BloomIndex.scala" -> ".repartition(1)",
      "graft/operators/BloomIndex.scala" -> ".repartition(1)",
      "graft/operators/IvfIndex.scala" -> ".repartition(1)"))
  }
}
