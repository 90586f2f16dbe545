package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** FanOutUnderSplitScans: a one-file parquet scan whose rows feed a
  * Generate, a higher-order function, a regular expression or a graft
  * expression before the first shuffle is fanned out to the session's four cores, and
  * pruning and pushdown still reach the scan; cheap segments, scans
  * already split enough, hand-placed repartitions, segments ending at
  * the plan root and streaming plans are left alone, and the rule is
  * idempotent. */
class FanOutUnderSplitScansSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("fanout").toString + "/docs.parquet"
    (0 until 400).map(i => (i.toLong, if (i % 3 == 0) "en" else "de", s"src${i % 5}",
        (0 until 12).map(j => s"w${(i * 7 + j) % 50}").mkString(" ")))
      .toDF("doc_id", "lang", "source", "text")
      .repartition(1).write.mode(SaveMode.Overwrite).parquet(d)
    d
  }
  private def docs: DataFrame = spark.read.parquet(dir)

  /** Partition counts of the repartitions sitting directly over a
    * scan (through pruning projections and pushed filters). */
  private def fanOuts(plan: LogicalPlan): Seq[Int] = {
    def overScan(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation => true
      case Project(_, c) => overScan(c)
      case Filter(_, c) => overScan(c)
      case _ => false
    }
    plan.collect { case Repartition(n, true, c) if overScan(c) => n }
  }
  private def fanOuts(df: DataFrame): Seq[Int] = fanOuts(df.queryExecution.optimizedPlan)

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private val words = split(col("text"), " ")
  /** An array built without a kernel, so each case below has one. */
  private val fields = array(col("text"), col("lang"))

  private def hofAgg: DataFrame =
    docs.select(col("source"), transform(fields, f => length(f)).as("lens"))
      .groupBy("source").agg(sum(size(col("lens"))).as("n"))

  test("fans out a one-split scan feeding a higher-order function below an aggregate") {
    assert(fanOuts(hofAgg) === Seq(4))
    assert(hofAgg.as[(String, Long)].collect().toMap ===
      (0 until 5).map(i => s"src$i" -> 80L * 2).toMap)
  }

  test("fans out a one-split scan feeding a Generate below an aggregate") {
    val df = docs.select(explode(fields).as("f")).groupBy("f").count()
    assert(fanOuts(df) === Seq(4))
    assert(df.agg(sum("count")).as[Long].head() === 400L * 2)
  }

  test("fans out a one-split scan feeding a regular expression or a split below an aggregate") {
    val regex = docs
      .select(col("source"), regexp_extract_all(col("text"), lit("w1\\d"), lit(0)).as("m"))
      .groupBy("source").agg(sum(size(col("m"))))
    assert(fanOuts(regex) === Seq(4))
    val tokens = docs.select(col("source"), size(words).as("n")).groupBy("source").agg(sum("n"))
    assert(fanOuts(tokens) === Seq(4))
    assert(tokens.as[(String, Long)].collect().map(_._2).sum === 400L * 12)
  }

  test("column pruning and filter pushdown still reach the fanned scan") {
    val df = docs.filter(col("lang") === "en")
      .select(explode(words).as("w")).groupBy("w").count()
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.length === 1)
    assert(scans.head.requiredSchema.fieldNames.toSet === Set("lang", "text"))
    assert(scans.head.metadata("PushedFilters").contains("EqualTo(lang,en)"),
      scans.head.metadata("PushedFilters"))
    assert(plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      .exists(_.isInstanceOf[RoundRobinPartitioning]), plan.treeString)
    assert(df.agg(sum("count")).as[Long].head() === 134L * 12)
  }

  test("a cheap projection is not fanned out") {
    val df = docs.select(upper(col("text")).as("u"), col("source"))
      .groupBy("source").agg(countDistinct("u"))
    assert(fanOuts(df) === Nil)
  }

  test("a scan whose natural splits reach the core count is not fanned out") {
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length).sum
    withConf("spark.sql.files.maxPartitionBytes", (bytes / 4).toString) {
      assert(fanOuts(hofAgg) === Nil)
    }
  }

  test("a hand-placed repartition keeps the partitioning its caller chose") {
    val df = docs.select(col("source"), transform(fields, f => length(f)).as("lens"))
      .repartition(3).groupBy("source").agg(sum(size(col("lens"))))
    val parts = df.queryExecution.optimizedPlan.collect { case r: Repartition => r.numPartitions }
    assert(parts === Seq(3))
  }

  test("a segment that ends at the plan root is not fanned out (the persist case)") {
    val legs = docs.select(col("doc_id"), transform(fields, f => length(f)).as("lens"))
    assert(fanOuts(legs) === Nil)
    val cached = legs.persist()
    try {
      cached.count()
      val built = spark.sharedState.cacheManager.lookupCachedData(
        cached.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .getOrElse(fail("leg not cached")).cachedRepresentation.cacheBuilder.cachedPlan
      assert(built.collect { case e: ShuffleExchangeExec => e }.isEmpty, built.treeString)
    } finally cached.unpersist(blocking = true)
  }

  test("a streaming relation is not fanned out") {
    val rule = FanOutUnderSplitScans(spark)
    val batch = hofAgg.queryExecution.analyzed
    assert(fanOuts(rule(batch)) === Seq(4))
    val streaming = batch.transform { case r: LogicalRelation => r.copy(isStreaming = true) }
    assert(streaming.isStreaming)
    assert(fanOuts(rule(streaming)) === Nil)
  }

  test("re-optimizing an optimized plan inserts nothing") {
    val optimized = hofAgg.queryExecution.optimizedPlan
    assert(FanOutUnderSplitScans(spark)(optimized) fastEquals optimized)
    val again = spark.sessionState.optimizer.execute(optimized)
    assert(fanOuts(again) === Seq(4))
    assert(again.collect { case r: Repartition => r }.length === 1)
  }
}
