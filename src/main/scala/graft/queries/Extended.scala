package graft.queries

import graft.Tables
import graft.functions.Funcs._
import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended operator surface beyond the reference's own inventory:
  * sessionization, multi-dimensional aggregation (ROLLUP), pivot,
  * per-group quantiles, binning, set operations, deterministic
  * sampling, quantile-gated filtering, MERGE emulation, TF-IDF —
  * each oracle-checked, each built scale-first (shuffle accounting
  * in PLANS.md).
  */
object Extended {

  type Q = (SparkSession, String) => DataFrame

  /** Sessionization: split each user's event stream into sessions at
    * >30 min inactivity gaps (lag + running sum of boundaries — the
    * standard two-window formulation; one shuffle on user_id). */
  def q34Sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new_session",
        when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new_session")).over(runSum))
    sessions
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("event_count"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        dsum(col("value")).as("session_value"))
      .withColumn("session_duration_sec",
        ((col("session_end_us") - col("session_start_us")) / 1000000L).cast("double"))
      .orderBy("user_id", "session_seq")
  }

  /** ROLLUP (year, status): subtotal + grand-total rows with grouping
    * flags — multi-dimensional aggregation Catalyst expands into one
    * Expand + hash aggregate (no extra scans). */
  def q35Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("order_year"),
        col("o_orderstatus").as("status"), col("o_totalprice"))
      .rollup(col("order_year"), col("status"))
      .agg(
        count(lit(1)).as("order_count"),
        dsum(col("o_totalprice")).as("total_revenue"),
        grouping(col("order_year")).cast("int").as("g_year"),
        grouping(col("status")).cast("int").as("g_status"))
      .orderBy(col("g_year"), col("g_status"), col("order_year"), col("status"))

  /** CUBE (status, priority): all 2^n grouping combinations in one
    * Expand + hash aggregate — completes the grouping-sets family
    * next to q35's ROLLUP. */
  def q84Cube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"), col("o_totalprice"))
      .cube(col("status"), col("priority"))
      .agg(
        count(lit(1)).as("order_count"),
        dsum(col("o_totalprice")).as("total_revenue"),
        grouping(col("status")).cast("int").as("g_status"),
        grouping(col("priority")).cast("int").as("g_priority"))
      .orderBy(col("g_status"), col("g_priority"), col("status"), col("priority"))

  /** Explicit GROUPING SETS — the general form behind q35's ROLLUP
    * and q84's CUBE: two independent one-dimension subtotals plus the
    * grand total in ONE Expand + hash aggregate (three separate
    * GROUP BYs would scan the table three times). Expressed through
    * the SQL surface, which is where grouping sets live. */
  def q94GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |  COUNT(*) AS order_count,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_priority
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_priority, status, priority""".stripMargin)
  }

  /** PIVOT: order status → columns, revenue per priority. The pivot
    * values are declared (no collect-distinct pass) — required at
    * scale so the plan is a single conditional aggregation. */
  def q36Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderpriority").as("priority"),
        col("o_orderstatus"), col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("priority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("p")).cast("double"))
      .na.fill(0.0, Seq("F", "O", "P"))
      .orderBy("priority")

  /** Per-group exact quantiles (quartiles of quantity by returnflag). */
  def q37GroupPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy("returnflag")

  /** Histogram binning: fixed-width value buckets (floor(x/w)) —
    * the scalable histogram (groupBy on the bin, never a sort). */
  def q38Histogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(floor(col("o_totalprice") / 50000).cast("bigint").as("price_bin"))
      .groupBy("price_bin")
      .agg(count(lit(1)).as("order_count"))
      .withColumn("bin_low", (col("price_bin") * 50000).cast("double"))
      .orderBy("price_bin")

  /** Set operations: INTERSECT / EXCEPT of customer-id sets (buyers
    * of high-value orders vs furniture-segment customers). */
  def q39SetOps(s: SparkSession, dir: String): DataFrame = {
    val highValue = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 250000)
      .select(col("o_custkey").as("customer_id")).distinct()
    val furniture = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "FURNITURE")
      .select(col("c_custkey").as("customer_id"))
    val both = highValue.intersect(furniture)
      .withColumn("set_op", lit("intersect"))
    val onlyHigh = highValue.except(furniture)
      .withColumn("set_op", lit("except"))
    both.unionAll(onlyHigh).orderBy("set_op", "customer_id")
  }

  /** Deterministic hash sampling: md5-prefix threshold — the
    * reproducible corpus-subsampling primitive (engine-independent:
    * any system with md5 draws the same sample; no RNG state). */
  def q53HashSample(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("sample_key", md5(col("o_orderkey").cast("string")))
      .filter(col("sample_key") < "29") // ≈ 16% of the keyspace
      .select(col("o_orderkey").as("order_id"), col("sample_key"),
        col("o_totalprice").as("revenue_usd"))
      .orderBy("order_id")

  /** Quantile-gated filtering: keep documents at-or-above the corpus
    * median quality score (single-row quantile broadcast back). */
  def q54QualityFilter(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality_score"))
    val cut = scored.agg(
      expr("percentile(quality_score, 0.5)").as("median_score"))
    scored.crossJoin(broadcast(cut))
      .filter(col("quality_score") >= col("median_score"))
      .select(col("doc_id"), col("quality_score"), col("median_score"))
      .orderBy("doc_id")
  }

  /** Incremental MERGE emulation under the oracle gate (ST5/SURVEY
    * §7.4 #4): base snapshot ∪ late-arriving updates → ordered dedup
    * window keeps the newest version per key — the idempotent
    * plain-Parquet substitute for MERGE INTO. */
  def q55MergeEmulation(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val base = ev.select(col("event_id"), col("user_id"), col("value"),
      lit(1L).as("version"))
    val updates = ev.filter(col("event_id") % 7 === 0)
      .select(col("event_id"), col("user_id"), (col("value") * 2).as("value"),
        lit(2L).as("version"))
    val w = Window.partitionBy("event_id").orderBy(col("version").desc)
    base.unionAll(updates)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("event_count"),
        dsum(col("value")).as("total_value"),
        countIf(col("version") === 2).as("updated_count"))
      .orderBy("user_id")
  }

  /** Snapshot-table time travel under the oracle gate: three
    * incremental merges commit as snapshot versions (sources.
    * SnapshotTable — the Iceberg-semantics layer), then the output
    * joins the CURRENT state against the v2 state read via
    * `readAsOf` time travel. The oracle recomputes both states from
    * the events table, so commit isolation, manifest swaps, and
    * as-of resolution are all hash-checked. */
  def q74SnapshotTimetravel(s: SparkSession, dir: String): DataFrame = {
    val path = "/root/repo/target/snapshot_fixture/events_tbl"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val ev = Tables.events(s, dir)
    val base = ev.select(col("event_id"), col("user_id"), col("value"),
      lit(1L).as("version"))
    val upd1 = ev.filter(col("event_id") % 7 === 0)
      .select(col("event_id"), col("user_id"), (col("value") * 2).as("value"),
        lit(2L).as("version"))
    val upd2 = ev.filter(col("event_id") % 11 === 0)
      .select(col("event_id"), col("user_id"), (col("value") * 3).as("value"),
        lit(3L).as("version"))
    graft.telecom.Pipeline.mergeSnapshot(s, base, path, Seq("event_id"), "version", nowMs = 1000)
    graft.telecom.Pipeline.mergeSnapshot(s, upd1, path, Seq("event_id"), "version", nowMs = 2000)
    graft.telecom.Pipeline.mergeSnapshot(s, upd2, path, Seq("event_id"), "version", nowMs = 3000)
    val current = graft.sources.SnapshotTable.read(s, path)
      .groupBy(col("user_id"))
      .agg(dsum(col("value")).as("current_value"),
        countIf(col("version") === 3).as("v3_rows"))
    val asOfV2 = graft.sources.SnapshotTable.readAsOf(s, path, 2000)
      .groupBy(col("user_id"))
      .agg(dsum(col("value")).as("asof_v2_value"))
    current.join(asOfV2, Seq("user_id"))
      .orderBy("user_id")
  }

  /** Zone-map file skipping under the oracle gate: orders commit as a
    * range-clustered snapshot with per-file min/max stats
    * (SnapshotTable.commitWithStats), then a closed-range predicate
    * reads ONLY the files whose zone can match (readPruned) — the
    * Iceberg manifest-stats scan path. The oracle recomputes from the
    * raw table, so pruning must lose no row; the companion spec
    * asserts files are actually skipped. EAGER at build time like
    * q74: constructing this DataFrame writes the snapshot fixture. */
  def q114ZonemapScan(s: SparkSession, dir: String): DataFrame = {
    val path = "/root/repo/target/snapshot_fixture/orders_zoned"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    graft.sources.SnapshotTable.commitWithStats(
      s, Tables.orders(s, dir).repartitionByRange(8, col("o_totalprice")),
      path, Seq("o_totalprice"), nowMs = 1000)
    graft.sources.SnapshotTable
      .readPruned(s, path, "o_totalprice", 1000.0, 5000.0)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("order_count"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("status")
  }

  /** TF-IDF top-3 terms per document: explode → term counts → doc
    * frequency → idf → rank. Two shuffles (doc terms, term df) —
    * both on bounded keys. Scores rounded to 6dp BEFORE ranking so
    * cross-engine libm ulps can't reorder ranks. */
  def q56TfIdf(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    // corpus size: memoized scalar (Tables.documentCount counts the
    // bare scan once and amortizes across compositions)
    val n = Tables.documentCount(s, dir)
    val terms = d
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_toks"))
      .select(col("doc_id"), explode(col("_toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    terms.join(df, "term")
      .withColumn("tfidf",
        round(col("tf") * log((lit(n) + 1.0) / (col("doc_freq") + 1.0)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tf", "doc_freq", "tfidf")
      .orderBy("doc_id", "rank")
  }

  /** J7 full form: build SCD2 effective ranges from a change history
    * (each user's signup events = version changes). */
  def q57Scd2Build(s: SparkSession, dir: String): DataFrame = {
    val history = Tables.events(s, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), unix_micros(col("ts")).as("version_ts_us"),
        col("event_id").as("version_event_id"), col("value").as("plan_value"))
    graft.operators.Scd2.fromHistory(history, "user_id", "version_ts_us")
      .select("user_id", "version_seq", "version_event_id", "plan_value",
        "effective_start", "effective_end", "is_current")
      .orderBy("user_id", "version_seq")
  }

  /** J7 lookup: purchases as-of joined to the SCD2 version covering
    * their timestamp — equi-join + range conjuncts (hash join, not
    * nested loop; see operators.Scd2 scaladoc). */
  def q58Scd2Lookup(s: SparkSession, dir: String): DataFrame = {
    val history = Tables.events(s, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), unix_micros(col("ts")).as("version_ts_us"),
        col("event_id").as("version_event_id"))
    val dim = graft.operators.Scd2.fromHistory(history, "user_id", "version_ts_us")
      .select("user_id", "version_seq", "version_event_id",
        "effective_start", "effective_end")
    val purchases = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
    graft.operators.Scd2.lookupJoin(purchases, dim, "user_id", col("ts_us"))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"),
        col("version_seq"), col("version_event_id"))
      .orderBy("event_id")
  }

  /** The CUSTOM Sessionize operator (LogicalPlan + Strategy +
    * SparkPlan, graft.plans.Sessionize) under the oracle gate: per-
    * event session assignment must match the declarative window
    * formulation the oracle computes. */
  def q73SessionizeNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.plans.SessionizeOp.sessionize(ev, "user_id", "ts", gapSeconds = 1800)
      .select(col("event_id"), col("user_id"), col("session_seq"))
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = Map(
    "q73_sessionize_native" -> q73SessionizeNative _,
    "q57_scd2_build" -> q57Scd2Build _,
    "q58_scd2_lookup" -> q58Scd2Lookup _,
    "q34_sessionize" -> q34Sessionize _,
    "q35_rollup" -> q35Rollup _,
    "q84_cube" -> q84Cube _,
    "q94_grouping_sets" -> q94GroupingSets _,
    "q36_pivot" -> q36Pivot _,
    "q37_group_percentiles" -> q37GroupPercentiles _,
    "q38_histogram" -> q38Histogram _,
    "q39_set_ops" -> q39SetOps _,
    "q53_hash_sample" -> q53HashSample _,
    "q54_quality_filter" -> q54QualityFilter _,
    "q55_merge_emulation" -> q55MergeEmulation _,
    "q56_tfidf" -> q56TfIdf _,
    "q74_snapshot_timetravel" -> q74SnapshotTimetravel _,
    "q114_zonemap_scan" -> q114ZonemapScan _,
  )

  /** DuckDB replica of TextAnalysis.qualityScore — shared by every
    * oracle that ranks or gates on quality (q42/q54 here, q99). */
  private[queries] val qualitySql =
    """CAST((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4)
      |  + ((1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |      / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) * 0.3)
      |  + (least(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|a|in|it)\b')) AS DOUBLE)
      |      / greatest(CAST(len(regexp_split_to_array(lower(trim(text)), ' +')) AS DOUBLE), 1.0)
      |      * 5.0, 1.0) * 0.3) AS DOUBLE)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q73_sessionize_native" ->
      """WITH g AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w IS NULL
        |         OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT event_id, user_id,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM g ORDER BY event_id""".stripMargin,
    "q57_scd2_build" ->
      """WITH hist AS (
        |  SELECT user_id, epoch_us(ts) AS version_ts_us,
        |    event_id AS version_event_id, value AS plan_value
        |  FROM events WHERE event_type = 'signup')
        |SELECT user_id,
        |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS version_seq,
        |  version_event_id, plan_value,
        |  version_ts_us AS effective_start,
        |  LEAD(version_ts_us, 1) OVER w AS effective_end,
        |  LEAD(version_ts_us, 1) OVER w IS NULL AS is_current
        |FROM hist
        |WINDOW w AS (PARTITION BY user_id ORDER BY version_ts_us ASC)
        |ORDER BY user_id, version_seq""".stripMargin,
    "q58_scd2_lookup" ->
      """WITH hist AS (
        |  SELECT user_id, epoch_us(ts) AS version_ts_us,
        |    event_id AS version_event_id
        |  FROM events WHERE event_type = 'signup'),
        |dim AS (
        |  SELECT user_id,
        |    CAST(ROW_NUMBER() OVER w AS INTEGER) AS version_seq,
        |    version_event_id,
        |    version_ts_us AS effective_start,
        |    LEAD(version_ts_us, 1) OVER w AS effective_end
        |  FROM hist
        |  WINDOW w AS (PARTITION BY user_id ORDER BY version_ts_us ASC)),
        |p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_us, p.value,
        |  d.version_seq, d.version_event_id
        |FROM p LEFT JOIN dim d
        |  ON p.user_id = d.user_id
        |  AND p.ts_us >= d.effective_start
        |  AND (d.effective_end IS NULL OR p.ts_us < d.effective_end)
        |ORDER BY event_id""".stripMargin,
    "q34_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
        |g AS (
        |  SELECT *, ts_us - LAG(ts_us, 1) OVER w AS gap_us,
        |    CASE WHEN ts_us - LAG(ts_us, 1) OVER w IS NULL
        |         OR ts_us - LAG(ts_us, 1) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM g)
        |SELECT user_id, session_seq, COUNT(*) AS event_count,
        |  MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
        |  CAST((MAX(ts_us) - MIN(ts_us)) / 1000000 AS DOUBLE) AS session_duration_sec
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "q35_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
        |  o_orderstatus AS status, COUNT(*) AS order_count,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status
        |FROM orders
        |GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
        |ORDER BY g_year, g_status, order_year, status""".stripMargin,
    "q94_grouping_sets" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |  COUNT(*) AS order_count,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_priority, status, priority""".stripMargin,
    "q84_cube" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |  COUNT(*) AS order_count,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_priority, status, priority""".stripMargin,
    "q36_pivot" ->
      """SELECT o_orderpriority AS priority,
        |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS "F",
        |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS "O",
        |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY priority""".stripMargin,
    "q37_group_percentiles" ->
      """SELECT l_returnflag AS returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY returnflag""".stripMargin,
    "q38_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_bin,
        |  COUNT(*) AS order_count,
        |  CAST(floor(o_totalprice / 50000) * 50000 AS DOUBLE) AS bin_low
        |FROM orders GROUP BY 1, 3 ORDER BY price_bin""".stripMargin,
    "q39_set_ops" ->
      """WITH high AS (
        |  SELECT DISTINCT o_custkey AS customer_id FROM orders
        |  WHERE o_totalprice > 250000),
        |furn AS (
        |  SELECT c_custkey AS customer_id FROM customer
        |  WHERE c_mktsegment = 'FURNITURE')
        |SELECT customer_id, 'intersect' AS set_op FROM
        |  (SELECT customer_id FROM high INTERSECT SELECT customer_id FROM furn)
        |UNION ALL
        |SELECT customer_id, 'except' AS set_op FROM
        |  (SELECT customer_id FROM high EXCEPT SELECT customer_id FROM furn)
        |ORDER BY set_op, customer_id""".stripMargin,
    "q53_hash_sample" ->
      """SELECT o_orderkey AS order_id,
        |  md5(CAST(o_orderkey AS VARCHAR)) AS sample_key,
        |  o_totalprice AS revenue_usd
        |FROM orders
        |WHERE md5(CAST(o_orderkey AS VARCHAR)) < '29'
        |ORDER BY order_id""".stripMargin,
    "q54_quality_filter" ->
      s"""WITH scored AS (SELECT doc_id, $qualitySql AS quality_score FROM documents),
         |cut AS (SELECT quantile_cont(quality_score, 0.5) AS median_score FROM scored)
         |SELECT doc_id, quality_score, median_score
         |FROM scored, cut WHERE quality_score >= median_score
         |ORDER BY doc_id""".stripMargin,
    "q114_zonemap_scan" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS order_count,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |WHERE o_totalprice BETWEEN 1000.0 AND 5000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q74_snapshot_timetravel" ->
      """WITH cur AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 11 = 0 THEN value * 3
        |         WHEN event_id % 7 = 0 THEN value * 2
        |         ELSE value END AS value,
        |    CASE WHEN event_id % 11 = 0 THEN 3
        |         WHEN event_id % 7 = 0 THEN 2 ELSE 1 END AS version
        |  FROM events),
        |v2 AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value
        |  FROM events)
        |SELECT c.user_id,
        |  CAST(SUM(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE) AS current_value,
        |  CAST(SUM(CASE WHEN c.version = 3 THEN 1 ELSE 0 END) AS BIGINT) AS v3_rows,
        |  a.asof_v2_value
        |FROM cur c
        |JOIN (SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |        AS asof_v2_value FROM v2 GROUP BY user_id) a
        |  ON a.user_id = c.user_id
        |GROUP BY c.user_id, a.asof_v2_value ORDER BY c.user_id""".stripMargin,
    "q55_merge_emulation" ->
      """WITH unioned AS (
        |  SELECT event_id, user_id, value, 1 AS version FROM events
        |  UNION ALL
        |  SELECT event_id, user_id, value * 2 AS value, 2 AS version
        |  FROM events WHERE event_id % 7 = 0),
        |merged AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
        |      ORDER BY version DESC) AS _rn FROM unioned)
        |  WHERE _rn = 1)
        |SELECT user_id, COUNT(*) AS event_count,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(SUM(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT) AS updated_count
        |FROM merged GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q56_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
        |    round(tf.tf * ln((n.n_docs + 1.0) / (df.doc_freq + 1.0)), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, doc_freq, tfidf FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
  )
}
