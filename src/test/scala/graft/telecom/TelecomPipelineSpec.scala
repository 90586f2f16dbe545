package graft.telecom

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end medallion pipeline over seeded generators: bronze →
  * silver → gold → quality gates, with the invariants the reference
  * enforces via dbt tests + GX suites (SURVEY.md §5).
  */
class TelecomPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val bronzeCalls = Generators.callEvents(spark, n = 2000).toDF()
  private lazy val bronzeProbes = Generators.probeEvents(spark, hours = 12).toDF()
  private lazy val bronzeCrm = Generators.crmCustomers(spark, n = 200).toDF()
  private lazy val silverCalls = Silver.silverCalls(bronzeCalls)
  private lazy val silverProbes = Silver.silverProbes(bronzeProbes)
  private lazy val silverCustomers = Silver.silverCustomers(bronzeCrm)
  private lazy val dimC = Gold.dimCustomers(silverCustomers)
  private lazy val dimT = Gold.dimTowers(Generators.towers().toDF())
  private lazy val dimD = Gold.dimDate(spark)
  private lazy val fact = Gold.factCalls(silverCalls, dimC, dimT, dimD)

  test("quarantine is the exact complement of the silver hard filter") {
    val kept = bronzeCalls.filter(
      col("event_id").isNotNull && col("caller_msisdn").isNotNull &&
        col("tower_id").isNotNull && col("duration_seconds") >= 0)
    val quarantined = Silver.quarantineCalls(bronzeCalls)
    assert(quarantined.count() > 0, "generator must plant corrupt rows")
    assert(kept.count() + quarantined.count() === bronzeCalls.count())
    assert(quarantined.filter(col("reasons") === "").count() === 0)
    val reasonValues = quarantined.select("reasons").distinct()
      .collect().map(_.getString(0)).toSet
    assert(reasonValues.subsetOf(Set(
      "null_caller_msisdn", "null_tower_id", "bad_duration")))
  }

  test("silver dedup removes at-least-once duplicates, keeps latest ingest") {
    // dedup accounting is over the rows that survive the corrupt-record
    // hard filter (quarantine covers the rest)
    val clean = bronzeCalls.filter(
      col("event_id").isNotNull && col("caller_msisdn").isNotNull &&
        col("tower_id").isNotNull && col("duration_seconds") >= 0)
    val rawIds = clean.count()
    val distinctIds = clean.select("event_id").distinct().count()
    assert(rawIds > distinctIds) // generator planted duplicates
    assert(silverCalls.count() === distinctIds)
    assert(silverCalls.select("call_id").distinct().count() === distinctIds)
  }

  test("silver dedup is idempotent (running twice == running once)") {
    val once = silverCalls
    val twice = Silver.silverCalls(once.select(
      col("call_id").as("event_id"), col("caller_msisdn"),
      col("customer_id").as("caller_customer_id"), col("tower_id"),
      date_format(col("call_start_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("call_start_timestamp"),
      date_format(col("call_end_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("call_end_timestamp"),
      col("duration_seconds"),
      when(col("call_status") === "Completed", "COMPLETED")
        .when(col("call_status") === "Failed", "FAILED")
        .when(col("call_status") === "Dropped", "DROPPED")
        .otherwise("UNKNOWN").as("call_result_code"),
      col("roaming"), col("revenue_usd").cast("double").as("revenue_usd"),
      col("_bronze_ingested_at"), lit(0L).as("_kafka_offset")))
    assert(twice.count() === once.count())
  }

  test("fact preserves silver row count (left joins never fan out on unique dims)") {
    assert(fact.count() === silverCalls.count())
  }

  test("fact FK integrity: every customer_key resolves or is UNKNOWN") {
    val orphan = Checks.relationship(
      fact.filter(col("customer_key") =!= "UNKNOWN"), dimC,
      "fact_calls", "customer_key", "customer_key")
    assert(orphan.passed)
    // planted fraud customers are not in CRM → mapped to UNKNOWN
    assert(fact.filter(col("customer_key") === "UNKNOWN").count() > 0)
  }

  test("hourly agg reconciles with fact totals") {
    val agg = Gold.aggTowerHourly(silverProbes, silverCalls)
    val aggCalls = agg.agg(sum("call_count")).head().getLong(0)
    val knownTowers = Generators.towers().map(_.tower_id).toSet
    val factCallsOnKnown = silverCalls
      .filter(col("tower_id").isin(knownTowers.toSeq: _*))
      // probe hours cover 12h; calls span 72h — only co-occurring hours join
      .filter(date_trunc("hour", col("call_start_ts"))
        .isin(silverProbes.select("probe_hour").distinct().as[java.sql.Timestamp]
          .collect().toSeq: _*))
      .count()
    assert(aggCalls === factCallsOnKnown)
  }

  test("monthly agg: revenue reconciles with fact revenue for matched customers") {
    val monthly = Gold.aggCustomerMonthly(fact, dimC)
    val aggRev = monthly.agg(sum("total_revenue_usd")).head().getDouble(0)
    val factRev = fact.filter(col("customer_key") =!= "UNKNOWN")
      .agg(sum(col("revenue_usd").cast("double"))).head().getDouble(0)
    assert(math.abs(aggRev - factRev) < 0.01)
  }

  test("quality suite over silver+gold yields HEALTHY verdict") {
    val results = Seq(
      Checks.notNull(silverCalls, "silver_calls", "call_id"),
      Checks.unique(silverCalls, "silver_calls", "call_id"),
      Checks.acceptedValues(silverCalls, "silver_calls", "call_status",
        Seq("Completed", "Failed", "Dropped"), mostly = 0.99),
      Checks.inRange(silverProbes.withColumn("load_pct", col("load_pct").cast("double")),
        "silver_network_probes", "load_pct", 0, 100),
      Checks.minRowCount(fact, "fact_calls", 1000),
      Checks.matchesRegex(silverCalls, "silver_calls", "caller_msisdn",
        "^\\+1\\d{10}$", mostly = 0.95))
    assert(Checks.verdict(results) === "HEALTHY")
    results.foreach(r => assert(r.passed, r.toString))
  }

  test("observed metrics ride the action for free and match a direct computation") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), Some(1.0)), (2L, None, Some(2.0)),
      (3L, Some("c"), None), (4L, None, None)
    ).toDF("id", "name", "score")
    val obs = new org.apache.spark.sql.Observation("silver_metrics")
    val observed = Checks.withObservedMetrics(df, obs, Seq("name", "score"))
    // the observation must not perturb the data it watches
    assert(observed.collect().length === 4)
    val m = obs.get
    assert(m("rows") === 4L)
    assert(m("nulls_name") === 2L)
    assert(m("nulls_score") === 2L)
  }

  test("volumeZscore flags a spiked latest day against exact history moments") {
    import java.sql.Date
    val steady = (1 to 20).map(d => (Date.valueOf(f"2024-01-$d%02d"), 1000L + (d % 3)))
    val spiked = steady :+ (Date.valueOf("2024-01-21"), 9000L)
    val steadyDf = (steady :+ (Date.valueOf("2024-01-21"), 1001L))
      .toDF("d", "cnt")
    val spikedDf = spiked.toDF("d", "cnt")
    assert(Checks.volumeZscore(steadyDf, "t", "d", "cnt").passed)
    val r = Checks.volumeZscore(spikedDf, "t", "d", "cnt")
    assert(!r.passed && r.observed > 3.0, r.toString)
    // degenerate history → neutral pass, no crash
    assert(Checks.volumeZscore(spikedDf.limit(2), "t", "d", "cnt").passed)
  }

  test("lineage topo order runs parents before children; impact analysis works") {
    val order = Pipeline.topoOrder()
    val idx = order.zipWithIndex.toMap
    Pipeline.lineage.foreach { case (t, deps) =>
      deps.foreach(d => assert(idx(d) < idx(t), s"$d must precede $t"))
    }
    assert(Pipeline.downstreamOf("silver_calls") ===
      Set("fact_calls", "agg_tower_hourly_utilization", "agg_customer_monthly_summary"))
  }

  test("incremental merge: idempotent and keeps latest version per key") {
    val dir = java.nio.file.Files.createTempDirectory("merge").toString + "/t"
    val v1 = Seq(("k1", 1L, "a"), ("k2", 1L, "b")).toDF("id", "v", "payload")
    val v2 = Seq(("k1", 2L, "a2"), ("k3", 1L, "c")).toDF("id", "v", "payload")
    Pipeline.mergeParquet(spark, v1, dir, Seq("id"), "v")
    Pipeline.mergeParquet(spark, v2, dir, Seq("id"), "v")
    Pipeline.mergeParquet(spark, v2, dir, Seq("id"), "v") // replay — must be no-op
    val out = spark.read.parquet(dir).as[(String, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(("k1", 2L, "a2"), ("k2", 1L, "b"), ("k3", 1L, "c")))
  }

  test("first merge into an absent target keeps only the newest version of each key") {
    val dir = java.nio.file.Files.createTempDirectory("merge-first").toString
    val inc = Seq(("k1", 1L, "old"), ("k1", 2L, "new"), ("k2", 1L, "b"))
      .toDF("id", "v", "payload")
    val newest = Seq(("k1", 2L, "new"), ("k2", 1L, "b"))
    Pipeline.mergeParquet(spark, inc, s"$dir/parquet", Seq("id"), "v")
    assert(spark.read.parquet(s"$dir/parquet").as[(String, Long, String)]
      .collect().sortBy(_._1).toSeq === newest)
    Pipeline.mergeSnapshot(spark, inc, s"$dir/snapshot", Seq("id"), "v", nowMs = 1000)
    assert(graft.sources.SnapshotTable.read(spark, s"$dir/snapshot")
      .as[(String, Long, String)].collect().sortBy(_._1).toSeq === newest)
  }

  test("incremental merge with schema evolution: new column null-fills old rows") {
    val path = java.nio.file.Files.createTempDirectory("merge-evo").toString + "/t"
    Pipeline.mergeParquet(spark,
      Seq(("k1", 1L, "a"), ("k2", 1L, "b")).toDF("id", "ver", "x"),
      path, Seq("id"), "ver")
    // v2 increment adds a column and updates k2
    Pipeline.mergeParquet(spark,
      Seq(("k2", 2L, "b2", "extra"), ("k3", 1L, "c", "e3"))
        .toDF("id", "ver", "x", "new_col"),
      path, Seq("id"), "ver", allowSchemaEvolution = true)
    val out = spark.read.parquet(path)
      .select("id", "x", "new_col").as[(String, String, Option[String])]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out === Map(
      "k1" -> (("a", None)),
      "k2" -> (("b2", Some("extra"))),
      "k3" -> (("c", Some("e3")))))
    // without the flag, a drifted increment still fails fast
    intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.mergeParquet(spark,
        Seq(("k4", 3L, "d", "x", 9)).toDF("id", "ver", "x", "new_col", "another"),
        path, Seq("id"), "ver")
    }
  }

  test("watermark store: incremental pull only sees rows past the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("wm").toString
    val store = new Pipeline.WatermarkStore(dir)
    val wm0 = store.load("crm", "1970-01-01T00:00:00Z")
    assert(wm0 === "1970-01-01T00:00:00Z")
    val all = Generators.crmCustomers(spark, 100)
    val cut = "2023-12-01T00:00:00Z"
    val incr = all.filter(col("updated_at") > cut)
    store.commit("crm", cut)
    assert(store.load("crm", "x") === cut)
    assert(incr.count() < all.count())
    assert(incr.filter(col("updated_at") <= cut).count() === 0)
  }

  test("bronze compaction dedups and clusters") {
    val tmp = java.nio.file.Files.createTempDirectory("bronze").toString
    Bronze.writeLanding(
      bronzeCalls.withColumn("evt_ts", to_timestamp(col("call_start_timestamp"))),
      s"$tmp/landing", "evt_ts")
    Bronze.compact(spark, s"$tmp/landing", s"$tmp/compacted",
      pk = Seq("event_id"), versionCol = "_bronze_ingested_at",
      sortCols = Seq("call_start_timestamp", "tower_id"))
    val compacted = spark.read.parquet(s"$tmp/compacted")
    assert(compacted.count() === bronzeCalls.select("event_id").distinct().count())
  }

  test("runDownstream rebuilds only the changed cone and matches a full rebuild") {
    val out = java.nio.file.Files.createTempDirectory("daginc").toString
    Pipeline.runAll(spark, out, callEvents = 500)
    val fullMonthly = spark.read.parquet(s"$out/agg_customer_monthly_summary")
      .collect().map(_.toString).sorted.toSeq
    val (manifest, verdict) = Pipeline.runDownstream(spark, out, "silver_calls", callEvents = 500)
    assert(verdict === "HEALTHY")
    // exactly the changed table + its downstream cone, in topo order
    assert(manifest.map(_.table) === Seq("silver_calls", "fact_calls",
      "agg_customer_monthly_summary", "agg_tower_hourly_utilization"))
    // deterministic inputs -> the incremental rebuild reproduces the
    // full-run output byte-for-byte at the row level
    val incMonthly = spark.read.parquet(s"$out/agg_customer_monthly_summary")
      .collect().map(_.toString).sorted.toSeq
    assert(incMonthly === fullMonthly)
  }

  test("runAll executes the full DAG in topo order and gates HEALTHY") {
    val out = java.nio.file.Files.createTempDirectory("dagrun").toString
    val (manifest, verdict) = Pipeline.runAll(spark, out, callEvents = 1000)
    assert(verdict === "HEALTHY")
    assert(manifest.map(_.table) === Pipeline.topoOrder())
    manifest.foreach(r => assert(r.rows > 0, s"${r.table} is empty"))
    // every table persisted and readable
    Pipeline.lineage.keys.foreach { t =>
      assert(spark.read.parquet(s"$out/$t").columns.nonEmpty)
    }
    // the manifest is the ONE auditable run record: table inventory,
    // the full gate table, the folded status, and the serving refresh
    // the gates guard (reference "tests block the dashboard refresh")
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "run_manifest.json")), "UTF-8")
    assert(m.contains("\"pipeline_status\": \"HEALTHY\""))
    assert(m.contains("\"checks\": ["))
    assert(m.contains("\"unique_call_id\""))
    assert(m.contains("\"serving_top_towers\""))
    assert(m.contains("\"refreshed\": true"))
  }

  test("gate transitions: warn failure DEGRADES, error failure BLOCKS") {
    val healthy = scala.collection.mutable.Map(
      "silver_calls" -> silverCalls, "dim_customers" -> dimC,
      "fact_calls" -> fact, "silver_network_probes" -> silverProbes)
    assert(Checks.verdict(Pipeline.gateChecks(healthy)) === "HEALTHY")

    // warn-severity fault: an orphan FK in fact_calls (relationship
    // check, severity "warn") -> DEGRADED, dashboards refresh
    val orphanFact = fact.unionByName(
      fact.limit(1).withColumn("customer_key", lit("CUST_DOES_NOT_EXIST")))
    val degraded = healthy.clone(); degraded("fact_calls") = orphanFact
    val degradedChecks = Pipeline.gateChecks(degraded)
    assert(Checks.verdict(degradedChecks) === "DEGRADED")
    assert(degradedChecks.filter(!_.passed).forall(_.severity == "warn"))

    // error-severity fault: a duplicated call_id (unique check,
    // severity "error") -> BLOCKED (the runner then skips the serving
    // refresh and records the skip in its manifest)
    val dupCalls = silverCalls.unionByName(silverCalls.limit(1))
    val blocked = healthy.clone(); blocked("silver_calls") = dupCalls
    assert(Checks.verdict(Pipeline.gateChecks(blocked)) === "BLOCKED")
  }

  test("severity routing THROUGH the runner: warn fault → DEGRADED manifest + serving refreshed; error fault → BLOCKED + refresh skipped") {
    def manifestOf(dir: String): String = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "run_manifest.json")), "UTF-8")

    // warn-severity fault injected mid-DAG: one orphan FK in
    // fact_calls fails the relationship check (severity warn) — the
    // whole run must fold to DEGRADED, yet the dashboard refresh
    // still happens and the manifest records both facts
    val outD = java.nio.file.Files.createTempDirectory("dagdegraded").toString
    val (_, vD) = Pipeline.runAllInjected(spark, outD, callEvents = 800,
      (name, df) =>
        if (name == "fact_calls")
          df.unionByName(df.limit(1)
            .withColumn("customer_key", lit("CUST_DOES_NOT_EXIST")))
        else df)
    assert(vD === "DEGRADED")
    val mD = manifestOf(outD)
    assert(mD.contains("\"pipeline_status\": \"DEGRADED\""))
    assert(mD.contains("\"check\": \"relationships_customer_key\""))
    assert(mD.contains("\"severity\": \"warn\""))
    assert(mD.contains("\"query\": \"serving_top_towers\""),
      "warn must NOT block the serving refresh")
    assert(mD.contains("\"refreshed\": true"))

    // error-severity fault: a duplicated call_id fails the unique
    // check (severity error) — BLOCKED, and the manifest records the
    // skipped refresh instead of a serving row
    val outB = java.nio.file.Files.createTempDirectory("dagblocked").toString
    val (_, vB) = Pipeline.runAllInjected(spark, outB, callEvents = 800,
      (name, df) =>
        if (name == "silver_calls") df.unionByName(df.limit(1)) else df)
    assert(vB === "BLOCKED")
    val mB = manifestOf(outB)
    assert(mB.contains("\"pipeline_status\": \"BLOCKED\""))
    assert(mB.contains("\"refreshed\": false"))
    assert(mB.contains("pipeline_status BLOCKED"))
    assert(!mB.contains("serving_top_towers"),
      "an error gate must skip the dashboard refresh")
  }
}
