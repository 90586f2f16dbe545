package graft.telecom

import graft.{SparkSpec, TaskMetricsProfiler}
import org.apache.spark.sql.functions._

/** Round-8 wiring of ObservedDq into the DAG runner: the gate's pure
  * aggregate checks (not_null / min row count / range) source from
  * Dataset.observe counters collected by each table's persist write,
  * so the runner never re-reads a table it just wrote for those
  * checks. Pins three facts: (1) the run manifest labels each check's
  * source; (2) observed-fed gateChecks returns the IDENTICAL verdict
  * and values as the scan path; (3) the observed path reads fewer
  * input bytes (the three saved scans, TaskMetricsProfiler). */
class PipelineObservedDqSpec extends SparkSpec {

  test("runAll manifest: aggregate checks carry source=observed, join/shuffle checks source=scan") {
    val out = java.nio.file.Files.createTempDirectory("obsrun").toString
    val (_, verdict) = Pipeline.runAll(spark, out, callEvents = 800)
    assert(verdict === "HEALTHY")
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "run_manifest.json")), "UTF-8")
    def sourceOf(check: String): String = {
      val re = (s""""check": "$check"[^}]*"source": "([a-z]+)"""").r
      re.findFirstMatchIn(m).map(_.group(1))
        .getOrElse(fail(s"check $check missing from manifest"))
    }
    assert(sourceOf("not_null_call_id") === "observed")
    assert(sourceOf("min_row_count") === "observed")
    assert(sourceOf("range_load_pct") === "observed")
    assert(sourceOf("unique_call_id") === "scan")
    assert(sourceOf("relationships_customer_key") === "scan")
  }

  test("runAll reads back every rebuilt table without starting a job") {
    // a parquet read that infers its schema, or a count() of the
    // written files, is bookkeeping: the schema is the one just
    // written and the row count is observed by the write. Schema
    // inference runs outside any SQL execution, so count those jobs;
    // the writes, gate checks and serving query each run inside one.
    val outside = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          outside.incrementAndGet()
    }
    val out = java.nio.file.Files.createTempDirectory("obsreadback").toString
    spark.sparkContext.addSparkListener(listener)
    val (manifest, verdict) =
      try {
        val run = Pipeline.runAll(spark, out, callEvents = 800)
        org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        run
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(verdict === "HEALTHY")
    assert(manifest.map(_.table).toSet === Pipeline.lineage.keySet)
    assert(outside.get === 0, s"${outside.get} jobs ran outside a SQL execution (read-back inference)")
    // the observed row counts are the written files' counts
    manifest.foreach(r => assert(r.rows === spark.read.parquet(s"$out/${r.table}").count(), r.table))
  }

  test("observed gate ≡ scan gate (values, verdict), and saves the re-read bytes") {
    val out = java.nio.file.Files.createTempDirectory("obsgate").toString
    Pipeline.runAll(spark, out, callEvents = 800)
    val tables = Pipeline.topoOrder()
      .map(n => n -> spark.read.parquet(s"$out/$n")).toMap

    // ground-truth counters, as the write-path observation would see
    val scRow = tables("silver_calls").agg(
      count(lit(1)),
      sum(when(col("call_id").isNull, 1L).otherwise(0L))).head
    val fcRows = tables("fact_calls").count()
    val npRow = tables("silver_network_probes").agg(
      count(lit(1)),
      sum(when(col("load_pct").cast("double").between(0, 100), 0L)
        .otherwise(1L))).head
    val observed = Map(
      "silver_calls" -> Map("rows" -> scRow.getLong(0), "null_call_id" -> scRow.getLong(1)),
      "fact_calls" -> Map("rows" -> fcRows),
      "silver_network_probes" -> Map(
        "rows" -> npRow.getLong(0), "range_viol_load_pct" -> npRow.getLong(1)))

    val profiler = TaskMetricsProfiler.install(spark)
    profiler.reset()
    val obsChecks = Pipeline.gateChecks(tables, observed)
    val obsInput = profiler.snapshot(spark).inputBytes
    profiler.reset()
    val scanChecks = Pipeline.gateChecks(tables)
    val scanInput = profiler.snapshot(spark).inputBytes

    // parity: same checks, same pass/fail, same observed values
    assert(obsChecks.map(_.checkName) === scanChecks.map(_.checkName))
    obsChecks.zip(scanChecks).foreach { case (o, s) =>
      assert(o.passed === s.passed, s"${o.checkName} verdict drifted")
      assert(math.abs(o.observed - s.observed) < 1e-9,
        s"${o.checkName} value drifted: ${o.observed} vs ${s.observed}")
      assert(o.severity === s.severity)
    }
    assert(Checks.verdict(obsChecks) === Checks.verdict(scanChecks))
    assert(obsChecks.count(_.source == "observed") === 3)
    assert(scanChecks.forall(_.source == "scan"))

    // the saved scans: observed path reads strictly fewer input bytes
    // (unique/relationship checks still scan on both paths)
    assert(obsInput < scanInput,
      s"observed gate should skip the aggregate re-reads: $obsInput vs $scanInput")
  }

  test("writeLanding returns write-path metrics matching the landed files") {
    import spark.implicits._
    val t0 = 1704067200000L
    val rows = (0L until 5000L).map { i =>
      (s"e$i",
        if (i % 211 == 0) null
        else new java.sql.Timestamp(t0 + (i % 90) * 86400000L))
    }
    val out = java.nio.file.Files.createTempDirectory("landing").toString + "/t"
    val got = Bronze.writeLanding(rows.toDF("event_id", "ts"), out, "ts")
    val disk = spark.read.parquet(out).agg(
      count(lit(1)), sum(when(col("ts").isNull, 1L).otherwise(0L)),
      min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head
    assert(got("rows") === disk.getLong(0))
    assert(got("null_ts") === disk.getLong(1) && got("null_ts") > 0)
    assert(got("min_ts_us") === disk.getLong(2))
    assert(got("max_ts_us") === disk.getLong(3))
  }

  test("observed counters see injected faults exactly like the scan path (routing unchanged)") {
    // inject null call_ids: the write-path counter must trip not_null
    // (severity error → BLOCKED) just as the post-write scan did
    val out = java.nio.file.Files.createTempDirectory("obsfault").toString
    val (_, v) = Pipeline.runAllInjected(spark, out, callEvents = 500,
      (name, df) =>
        if (name == "silver_calls")
          df.withColumn("call_id",
            when(rand(7) < 0.05, lit(null: String)).otherwise(col("call_id")))
        else df)
    assert(v === "BLOCKED")
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "run_manifest.json")), "UTF-8")
    val re = """"check": "not_null_call_id"[^}]*"passed": (\w+)[^}]*"source": "(\w+)"""".r
    val hit = re.findFirstMatchIn(m).getOrElse(fail("not_null row missing"))
    assert(hit.group(1) === "false", "observed counter missed the injected nulls")
    assert(hit.group(2) === "observed")
  }
}
