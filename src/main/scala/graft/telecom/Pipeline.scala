package graft.telecom

import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline engine: lineage DAG + topological runner, incremental
  * MERGE emulation over plain Parquet, and a watermark store for
  * incremental batch pulls (reference cdr_pipeline_dag.py:226-228,
  * pipeline_observability.py:282-321, crm_batch_ingestor.py:52-62,
  * dbt incremental materialization).
  */
object Pipeline {

  /** Static table-dependency DAG (reference
    * pipeline_observability.py:289-299). */
  val lineage: Map[String, Seq[String]] = Map(
    "bronze_call_events" -> Seq(),
    "bronze_network_probes" -> Seq(),
    "bronze_crm_customers" -> Seq(),
    "silver_calls" -> Seq("bronze_call_events"),
    "silver_network_probes" -> Seq("bronze_network_probes"),
    "silver_customers" -> Seq("bronze_crm_customers"),
    "dim_customers" -> Seq("silver_customers"),
    "dim_towers" -> Seq(),
    "dim_date" -> Seq(),
    "fact_calls" -> Seq("silver_calls", "dim_customers", "dim_towers", "dim_date"),
    "agg_tower_hourly_utilization" -> Seq("silver_network_probes", "silver_calls"),
    "agg_customer_monthly_summary" -> Seq("fact_calls", "dim_customers"))

  /** Deterministic topological order of the lineage DAG. */
  def topoOrder(graph: Map[String, Seq[String]] = lineage): Seq[String] = {
    val visited = scala.collection.mutable.LinkedHashSet[String]()
    def visit(n: String, path: Set[String]): Unit = {
      require(!path.contains(n), s"lineage cycle at $n")
      if (!visited.contains(n)) {
        graph.getOrElse(n, Seq()).foreach(visit(_, path + n))
        visited += n
      }
    }
    graph.keys.toSeq.sorted.foreach(visit(_, Set()))
    visited.toSeq
  }

  /** All downstream tables impacted by a change to `table` (impact
    * analysis, reference pipeline_observability.py:301-321). */
  def downstreamOf(table: String,
                   graph: Map[String, Seq[String]] = lineage): Set[String] = {
    val direct = graph.collect { case (t, deps) if deps.contains(table) => t }.toSet
    direct ++ direct.flatMap(downstreamOf(_, graph))
  }

  /** Incremental MERGE on plain Parquet (SURVEY.md §7.4 #4): keep the
    * newest `versionCol` row per key of (current target ∪ increment)
    * and rewrite the target with it. The whole target is read and
    * rewritten on every merge, so a merge's cost tracks the target,
    * not the increment. Contracts:
    *  - Idempotent: re-merging an applied increment is a no-op, which
    *    lets at-least-once upstreams and 3-day lookback reprocessing
    *    coexist (reference ST5).
    *  - The first merge into an absent target dedups the increment
    *    too: a key that arrives twice lands once, at its newest
    *    version.
    *  - The rewrite is [[mergeBuckets]] files hash-bucketed by the
    *    key, written in parallel; each key lives in exactly one file.
    */
  def mergeParquet(spark: SparkSession, increment: DataFrame, path: String,
                   keyCols: Seq[String], versionCol: String,
                   allowSchemaEvolution: Boolean = false): Unit = {
    val target = Paths.get(path)
    // crash recovery: a previous run that died between its two moves
    // leaves the old snapshot in _bak and no target — restore it
    // before merging, so no committed history is ever lost
    val bakPath = Paths.get(path + "_bak")
    if (!Files.exists(target) && Files.exists(bakPath))
      Files.move(bakPath, target, StandardCopyOption.REPLACE_EXISTING)
    val merged = keepLatest(spark, if (Files.exists(target)) Some(path) else None,
      increment, keyCols, versionCol, allowSchemaEvolution)
    // write to a sibling tmp dir then atomically swap (plain-Parquet
    // stand-in for Iceberg's commit; crash before swap leaves the old
    // snapshot intact)
    val tmp = path + "_tmp_merge"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    val bak = Paths.get(path + "_bak")
    // a STALE non-empty _bak (crash after target landed but before its
    // cleanup) would make Files.move throw DirectoryNotEmptyException
    // and wedge every future merge — clear it before swapping
    org.apache.commons.io.FileUtils.deleteQuietly(bak.toFile)
    if (Files.exists(target)) Files.move(target, bak, StandardCopyOption.REPLACE_EXISTING)
    Files.move(Paths.get(tmp), target, StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(bak.toFile)
    graft.Tables.recordSchema(spark, path, merged.schema)
  }

  /** Incremental merge with SNAPSHOT history: [[mergeParquet]]'s
    * keep-latest step and contracts over the current snapshot,
    * committed as a new sources.SnapshotTable version — every merge
    * becomes time-travelable, and expire/rollback apply (the Iceberg
    * snapshot semantics the single-version `_bak` swap lacks). */
  def mergeSnapshot(spark: SparkSession, increment: DataFrame, path: String,
                    keyCols: Seq[String], versionCol: String,
                    nowMs: Long = System.currentTimeMillis()): Long = {
    import graft.sources.SnapshotTable
    val current = SnapshotTable.snapshots(path).lastOption.map(SnapshotTable.dataDir(path, _))
    val merged = keepLatest(spark, current, increment, keyCols, versionCol,
      allowSchemaEvolution = false)
    val v = SnapshotTable.commit(spark, merged, path, nowMs)
    graft.Tables.recordSchema(spark,
      SnapshotTable.dataDir(path, SnapshotTable.snapshots(path).last), merged.schema)
    v
  }

  /** The keep-latest step both merges share: (parquet at `targetDir`,
    * if any) ∪ increment, hash-partitioned by the key into
    * [[mergeBuckets]] partitions, newest version per key. AQE coalesces
    * a small implicit shuffle into one task but never one whose count
    * was given, so the window and the parquet encode run on every
    * core; the hash partitioning already satisfies the window, so no
    * second exchange is planned. With `allowSchemaEvolution` an
    * increment that adds (or drops) columns aligns by name with null
    * back-fill (the reference's dbt on_schema_change:
    * append_new_columns contract).
    *
    * The target is read through graft.Tables' schema memo, and both
    * merges record the schema they commit under the files they just
    * wrote, so a merge into the result of the previous merge starts
    * no schema-inference job. */
  private def keepLatest(spark: SparkSession, targetDir: Option[String],
                         increment: DataFrame, keyCols: Seq[String], versionCol: String,
                         allowSchemaEvolution: Boolean): DataFrame = {
    val union = targetDir.fold(increment)(dir =>
      graft.Tables.readParquet(spark, dir)
        .unionByName(increment, allowMissingColumns = allowSchemaEvolution))
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(versionCol).desc)
    union.repartition(mergeBuckets(spark, targetDir), keys: _*)
      .withColumn("_merge_rn", row_number().over(w))
      .filter(col("_merge_rn") === 1)
      .drop("_merge_rn")
  }

  /** Bucket (and output file) count of a merge into `targetDir`:
    * max(session cores, ceil(target bytes / maxPartitionBytes)). Large
    * targets get files about the size a reader splits on; small ones
    * still use every core. The size is one content-summary call on the
    * directory — not Tables' per-tick memo, since every merge rewrites
    * the directory it would have memoized. */
  private[graft] def mergeBuckets(spark: SparkSession, targetDir: Option[String]): Int = {
    val bytes = targetDir.fold(0L) { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    }
    val split = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    math.max(spark.sparkContext.defaultParallelism.toLong, (bytes + split - 1) / split).toInt
  }

  /** Watermark store for incremental pulls (reference
    * crm_batch_ingestor.py:52-62): tiny JSON file, committed only
    * after a successful downstream write. */
  class WatermarkStore(dir: String) {
    private def fileFor(key: String) = Paths.get(dir, s"$key.watermark.json")
    def load(key: String, default: String): String = {
      val f = fileFor(key)
      if (Files.exists(f)) {
        val s = new String(Files.readAllBytes(f), "UTF-8")
        val m = "\"watermark\"\\s*:\\s*\"([^\"]*)\"".r
        m.findFirstMatchIn(s).map(_.group(1)).getOrElse(default)
      } else default
    }
    def commit(key: String, watermark: String): Unit = {
      Files.createDirectories(Paths.get(dir))
      // temp + atomic rename (round-10 crash-window sweep): an
      // in-place write torn by a crash left JSON the load() regex
      // rejects, silently resetting the watermark to `default` — a
      // full re-pull, not data loss (merge is idempotent), but an
      // unbounded reprocessing bill a rename avoids for free
      val tmp = Paths.get(dir, s"$key.watermark.json.tmp")
      Files.write(tmp,
        s"""{"key": "$key", "watermark": "$watermark"}""".getBytes("UTF-8"))
      Files.move(tmp, fileFor(key), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Freshness gate (reference cdr_pipeline_dag.py:57-90): does the
    * partition/table have data at-or-after the SLA horizon? */
  def isFresh(df: DataFrame, tsCol: String, slaHorizon: java.sql.Timestamp): Boolean =
    !df.filter(col(tsCol) >= lit(slaHorizon)).isEmpty

  case class TableRun(table: String, rows: Long, seconds: Double)

  /** Full-DAG orchestration (the Airflow cdr_pipeline_dag equivalent,
    * reference cdr_pipeline_dag.py:226-228): generate bronze, execute
    * every model in lineage topological order, persist each table as
    * parquet under outDir, run the DQ gate, return (manifest,
    * verdict). The gate mirrors the reference's "tests block the
    * dashboard refresh" contract: callers stop on BLOCKED. */
  def runAll(spark: SparkSession, outDir: String,
             callEvents: Int = 2000): (Seq[TableRun], String) =
    runDag(spark, outDir, callEvents, _ => true)

  /** runAll with a per-table fault hook applied between build and
    * persist — the end-to-end way to exercise the gate's severity
    * routing THROUGH the runner: the manifest of a run with an
    * injected warn-severity fault must say DEGRADED yet still record
    * a serving refresh, and an error-severity fault must say BLOCKED
    * with the refresh skipped (reference dbt severity: warn in
    * models/gold/facts/schema.yml:20-36 vs blocking error tests;
    * pipeline_observability.py:338-351 status fold). Production code
    * never passes `mutate`; specs do. */
  def runAllInjected(spark: SparkSession, outDir: String,
                     callEvents: Int,
                     mutate: (String, DataFrame) => DataFrame): (Seq[TableRun], String) =
    runDag(spark, outDir, callEvents, _ => true, mutate)

  /** Incremental recompute: rebuild ONLY `changed` and its downstream
    * cone (impact analysis over the lineage DAG); every untouched
    * parent is read from its previously persisted output instead of
    * being regenerated — the partial-backfill semantics an
    * orchestrator needs when one model's logic or input changes.
    * Requires a prior full run to have persisted the unaffected
    * tables under outDir. */
  def runDownstream(spark: SparkSession, outDir: String, changed: String,
                    callEvents: Int = 2000): (Seq[TableRun], String) = {
    require(lineage.contains(changed), s"unknown table $changed")
    val affected = Set(changed) ++ downstreamOf(changed)
    runDag(spark, outDir, callEvents, affected.contains)
  }

  private def runDag(spark: SparkSession, outDir: String,
                     callEvents: Int,
                     rebuild: String => Boolean,
                     mutate: (String, DataFrame) => DataFrame = (_, df) => df): (Seq[TableRun], String) = {
    val tables = scala.collection.mutable.Map[String, DataFrame]()
    // the builder names are validated against the lineage map BEFORE
    // any table is written, so the two encodings cannot drift into a
    // mid-DAG MatchError after partial output
    val builderNames = Set(
      "bronze_call_events", "bronze_network_probes", "bronze_crm_customers",
      "silver_calls", "silver_network_probes", "silver_customers",
      "dim_customers", "dim_towers", "dim_date", "fact_calls",
      "agg_tower_hourly_utilization", "agg_customer_monthly_summary")
    require(builderNames == lineage.keySet,
      s"runAll builders out of sync with lineage: " +
        s"missing=${lineage.keySet -- builderNames} extra=${builderNames -- lineage.keySet}")
    def build(name: String): DataFrame = name match {
      case "bronze_call_events" => Generators.callEvents(spark, callEvents).toDF()
      case "bronze_network_probes" => Generators.probeEvents(spark, hours = 24).toDF()
      case "bronze_crm_customers" => Generators.crmCustomers(spark, 200).toDF()
      case "silver_calls" => Silver.silverCalls(tables("bronze_call_events"))
      case "silver_network_probes" => Silver.silverProbes(tables("bronze_network_probes"))
      case "silver_customers" => Silver.silverCustomers(tables("bronze_crm_customers"))
      case "dim_customers" => Gold.dimCustomers(tables("silver_customers"))
      case "dim_towers" => Gold.dimTowers(spark.createDataFrame(Generators.towers()))
      case "dim_date" => Gold.dimDate(spark)
      case "fact_calls" => Gold.factCalls(tables("silver_calls"),
        tables("dim_customers"), tables("dim_towers"), tables("dim_date"))
      case "agg_tower_hourly_utilization" =>
        Gold.aggTowerHourly(tables("silver_network_probes"), tables("silver_calls"))
      case "agg_customer_monthly_summary" =>
        Gold.aggCustomerMonthly(tables("fact_calls"), tables("dim_customers"))
    }
    // write-path observation metrics per table: every table's row
    // count, and the gate checks that are pure per-row aggregates, ride
    // the persist write's own tasks (Dataset.observe) instead of
    // re-scanning the written files — the reference's
    // check-after-write second pass (pipeline_observability.py:92-173)
    // eliminated. Uniqueness and FK checks need a shuffle/join and
    // stay scan-sourced.
    def obsMetrics(name: String): Seq[org.apache.spark.sql.Column] = name match {
      case "silver_calls" => Seq(
        sum(when(col("call_id").isNull, 1L).otherwise(0L)).as("null_call_id"))
      case "silver_network_probes" => Seq(
        // nulls count as violations, mirroring matchRate's semantics
        sum(when(col("load_pct").cast("double").between(0, 100), 0L)
          .otherwise(1L)).as("range_viol_load_pct"))
      case _ => Seq.empty
    }
    val observed = scala.collection.mutable.Map[String, Map[String, Long]]()
    // inventory covers EVERY table on disk (untouched parents carry
    // seconds = 0.0); the returned manifest lists only rebuilt tables
    val inventory = topoOrder().map { name =>
      val path = s"$outDir/$name"
      if (rebuild(name)) {
        val t0 = System.nanoTime()
        val df = mutate(name, build(name))
        val obs = org.apache.spark.sql.Observation()
        df.observe(obs, count(lit(1)).as("rows"), obsMetrics(name): _*)
          .write.mode("overwrite").parquet(path)
        observed(name) = obs.get.map { case (k, v) =>
          k -> (if (v == null) 0L else v.asInstanceOf[Number].longValue())
        }
        // the read-back starts no job: the schema is the one just
        // written, and the row count was observed by the write
        graft.Tables.recordSchema(spark, path, df.schema)
        tables(name) = graft.Tables.readParquet(spark, path)
        (TableRun(name, observed(name)("rows"), (System.nanoTime() - t0) / 1e9), true)
      } else {
        // untouched parent: serve the persisted output, no rewrite
        val persisted = graft.Tables.readParquet(spark, path)
        tables(name) = persisted
        (TableRun(name, persisted.count(), 0.0), false)
      }
    }
    val manifest = inventory.collect { case (run, true) => run }
    val checks = gateChecks(tables, observed)
    val status = Checks.verdict(checks)
    // serving stage: the dashboard query the gates protect (reference
    // "tests block the dashboard refresh"). BLOCKED skips it — that IS
    // the gate's contract — and the manifest records the skip.
    val serving: Option[TableRun] =
      if (status == "BLOCKED") None
      else Some {
        tables("agg_tower_hourly_utilization").createOrReplaceTempView("_run_agg_tower")
        val t0 = System.nanoTime()
        val rows = spark.sql(
          """SELECT tower_id, avg(avg_load_pct) AS avg_load, sum(call_count) AS calls
            |FROM _run_agg_tower GROUP BY tower_id
            |ORDER BY avg_load DESC LIMIT 20""".stripMargin).count()
        spark.catalog.dropTempView("_run_agg_tower")
        TableRun("serving_top_towers", rows, (System.nanoTime() - t0) / 1e9)
      }
    // S12 run metadata: ONE auditable record of the whole run —
    // bronze→silver→gold table inventory (a partial rebuild must not
    // shrink it to the rebuilt subset), the full gate table with the
    // reference's BLOCKED/DEGRADED/HEALTHY fold, and the serving
    // stage the gates guard (the pipeline-observability run record a
    // warehouse job would PUT with its outputs — reference
    // pipeline_observability.py:282-351)
    val mapper = new ObjectMapper()
    val record = mapper.createObjectNode()
    record.put("generated_utc", java.time.Instant.now().toString)
    record.put("pipeline_status", status)
    val tablesNode = record.putArray("tables")
    inventory.foreach { case (r, rebuilt) =>
      tablesNode.addObject().put("table", r.table).put("rows", r.rows)
        .put("seconds", r.seconds).put("rebuilt", rebuilt)
    }
    val checksNode = record.putArray("checks")
    checks.foreach { c =>
      checksNode.addObject().put("check", c.checkName).put("table", c.table)
        .put("passed", c.passed).put("observed", c.observed)
        .put("threshold", c.threshold).put("severity", c.severity)
        .put("source", c.source)
    }
    val servingNode = record.putObject("serving")
    serving match {
      case Some(s) => servingNode.put("query", s.table).put("rows", s.rows)
        .put("seconds", s.seconds).put("refreshed", true)
      case None => servingNode.put("refreshed", false)
        .put("reason", "pipeline_status BLOCKED")
    }
    val printer = new DefaultPrettyPrinter().withSeparators(
      Separators.createDefaultInstance().withObjectFieldValueSpacing(Separators.Spacing.AFTER))
    mapper.writer(printer).writeValue(Paths.get(outDir, "run_manifest.json").toFile, record)
    (manifest, status)
  }

  /** The run-level DQ gate suite (reference README "Data Quality
    * Gates" table): severity "error" failures BLOCK the dashboard
    * refresh, "warn" failures degrade it. Factored out of the DAG
    * runner so specs can drive the gate over injected-fault tables
    * and assert the BLOCKED/DEGRADED transitions the runner itself
    * only exhibits on healthy generated data. */
  def gateChecks(tables: collection.Map[String, DataFrame]): Seq[Checks.CheckResult] =
    gateChecks(tables, Map.empty[String, Map[String, Long]])

  /** Gate suite with write-path observed counters: a table present in
    * `observed` sources its aggregate checks (not_null / row count /
    * range) from the counters its persist write already collected —
    * zero extra reads, same thresholds, same severity routing. Tables
    * absent from `observed` (untouched parents in a partial rebuild,
    * spec-built frames) fall back to the scan path, so the verdict is
    * identical either way — PipelineObservedDqSpec pins the parity
    * and the saved scan. */
  def gateChecks(tables: collection.Map[String, DataFrame],
                 observed: collection.Map[String, Map[String, Long]]): Seq[Checks.CheckResult] = Seq(
    observed.get("silver_calls")
      .map(m => Checks.notNullObserved("silver_calls", "call_id", m("null_call_id")))
      .getOrElse(Checks.notNull(tables("silver_calls"), "silver_calls", "call_id")),
    Checks.unique(tables("silver_calls"), "silver_calls", "call_id"),
    Checks.unique(tables("dim_customers"), "dim_customers", "customer_key"),
    Checks.relationship(
      tables("fact_calls").filter(col("customer_key") =!= "UNKNOWN"),
      tables("dim_customers"), "fact_calls", "customer_key", "customer_key"),
    observed.get("fact_calls")
      .map(m => Checks.minRowCountObserved("fact_calls", 1, m("rows")))
      .getOrElse(Checks.minRowCount(tables("fact_calls"), "fact_calls", 1)),
    observed.get("silver_network_probes")
      .map(m => Checks.inRangeObserved("silver_network_probes", "load_pct",
        m("rows"), m("range_viol_load_pct")))
      .getOrElse(Checks.inRange(
        tables("silver_network_probes").withColumn("load_pct", col("load_pct").cast("double")),
        "silver_network_probes", "load_pct", 0, 100)))
}
