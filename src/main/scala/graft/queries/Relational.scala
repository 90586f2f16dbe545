package graft.queries

import graft.Tables
import graft.functions.Funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator surface (SURVEY.md §2.2-§2.7) re-expressed
  * over the driver's TPC-H-ish tables.
  *
  * Determinism rules for oracle hash-parity (SURVEY.md §5):
  *  - money/fraction sums go through DECIMAL (exact, order-independent)
  *    and come out as double — see [[graft.functions.Funcs.dsum]];
  *  - every output has a total ORDER BY on a unique prefix;
  *  - timestamps leave as formatted strings or µs epochs, never raw.
  *
  * Scale notes are inline per query: what broadcasts, what shuffles,
  * and why the plan holds at 100 TB.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** A1/A3-style pricing rollup (TPC-H Q1 shape). One shuffle on the
    * tiny (returnflag, linestatus) grouping key; partial aggregation
    * map-side means the shuffle carries ~8 rows per partition
    * regardless of input scale — holds at 100 TB.
    */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    l.groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** P1+P2+F2: corrupt-record hard filter, projection/rename to
    * business names, CASE-WHEN status decode (reference
    * silver_calls.sql:49-117). Filter + pruned projection reach the
    * parquet scan (PushedFilters) — no shuffle at all.
    */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey").isNotNull && col("o_custkey").isNotNull &&
        col("o_totalprice") >= 0)
      .select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("customer_id"),
        when(col("o_orderstatus") === "F", "FULFILLED")
          .when(col("o_orderstatus") === "O", "OPEN")
          .when(col("o_orderstatus") === "P", "PENDING")
          .otherwise("UNKNOWN").as("status_decoded"),
        col("o_totalprice").as("revenue_usd"),
        col("o_orderdate").cast("date").as("order_date"))
      .orderBy("order_id")

  /** J1-J3: fact joined to a chain of dimensions, dims explicitly
    * broadcast (reference fact_calls.sql:92-95). At 100 TB the fact
    * side streams through broadcast hash joins with zero shuffle;
    * only the final small groupBy shuffles (partial agg first).
    */
  def q03StarJoin(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("lineitem_count"))
      .orderBy("region_name", "nation_name")
  }

  /** J5+P6+F3: left join to a pre-aggregated side with COALESCE
    * zero-fill (reference agg_customer_monthly_summary.sql:69-101).
    * Aggregating BEFORE the join shrinks the probe side to one row
    * per customer — at scale this turns a fact-sized shuffle join
    * into a customer-sized one.
    */
  def q04LeftJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val ordAgg = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("order_count"), dsum(col("o_totalprice")).as("total_revenue"))
    Tables.customer(s, dir)
      .join(ordAgg, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey").as("customer_id"),
        col("c_name").as("customer_name"),
        coalesce(col("order_count"), lit(0L)).as("order_count"),
        coalesce(col("total_revenue"), lit(0.0)).as("total_revenue"))
      .orderBy("customer_id")
  }

  /** J8: referential-integrity LEFT ANTI join (dbt relationships test,
    * reference models/gold/facts/schema.yml:20-36): customers that
    * never ordered.
    */
  def q05AntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey").as("customer_id"), col("c_name").as("customer_name"),
        col("c_mktsegment").as("market_segment"))
      .orderBy("customer_id")

  /** LEFT SEMI join (EXISTS): customers with at least one high-value
    * order. Semi joins never duplicate the left side — the shape you
    * want for existence checks at scale (no post-join distinct).
    */
  def q06SemiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 300000).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey").as("customer_id"), col("c_name").as("customer_name"))
      .orderBy("customer_id")

  /** J6+A6/A12: row-count anomaly gate — latest day's volume vs the
    * average of all prior days, via a cross join of two single-row
    * aggregates (reference tests/assert_row_count_anomaly.sql:26-33).
    * Both sides are 1 row → the cross join is trivially broadcast.
    */
  def q07RowCountAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("event_date"))
      .agg(count(lit(1)).as("daily_rows"))
    val latestDay = daily.agg(max("event_date").as("latest_date"))
    val today = daily.join(broadcast(latestDay), col("event_date") === col("latest_date"))
      .select(col("daily_rows").as("today_rows"))
    val baseline = daily.join(broadcast(latestDay), col("event_date") < col("latest_date"))
      .agg(avg("daily_rows").as("baseline_avg_rows"))
    today.crossJoin(baseline)
      .select(
        col("today_rows"),
        col("baseline_avg_rows"),
        (col("today_rows") < col("baseline_avg_rows") * 0.5).as("is_anomaly"))
  }

  /** U1+P7: UNION ALL of range-violation scans from two tables
    * (reference tests/assert_no_negative_revenue.sql:1-19). Both
    * branches are scan+filter — fully pushed down, no shuffle until
    * the final order.
    */
  def q08UnionViolations(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.lineitem(s, dir)
      .filter(col("l_discount") > 0.08)
      .select(
        lit("lineitem_discount_gt_8pct").as("check_name"),
        col("l_orderkey").as("record_key"),
        col("l_linenumber").cast("bigint").as("record_sub_key"),
        col("l_discount").as("offending_value"))
    val v2 = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000)
      .select(
        lit("orders_price_gt_400k").as("check_name"),
        col("o_orderkey").as("record_key"),
        lit(0L).as("record_sub_key"),
        col("o_totalprice").as("offending_value"))
    v1.unionAll(v2).orderBy("check_name", "record_key", "record_sub_key")
  }

  /** W1-W3+P5: dedup-keep-latest via ROW_NUMBER over (key ORDER BY ts
    * DESC) then rn=1 (reference silver_calls.sql:40-55). One shuffle
    * on the dedup key; with event_id tie-break the survivor is fully
    * deterministic (unlike dropDuplicates). At scale this is the
    * MERGE-free idempotent-reprocessing primitive (SURVEY.md ST5).
    */
  def q09DedupLatest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(
        col("user_id"),
        col("event_type"),
        col("event_id").as("latest_event_id"),
        col("value").as("latest_value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("latest_ts"))
      .orderBy("user_id", "event_type")
  }

  /** W4 (J9 batch parity): per-key LAG for prior-event comparison —
    * the batch formulation of the fraud stream's ValueState read
    * (reference fraud_detection.py:127-135). µs epochs keep the
    * arithmetic integer-exact for the oracle.
    */
  def q10WindowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        lag(unix_micros(col("ts")), 1).over(w).as("prev_ts_us"),
        lag(col("event_type"), 1).over(w).as("prev_event_type"))
      .withColumn("gap_seconds",
        ((col("ts_us") - col("prev_ts_us")) / 1000000L).cast("double"))
      .orderBy("event_id")
  }

  /** W5 (ST3 batch parity): trailing 30-minute per-key event count —
    * the velocity fraud rule as a RANGE window over µs epochs
    * (reference fraud_detection.py:167-179). RANGE frames include
    * ties identically in Spark and the oracle.
    */
  def q11RollingCount(s: SparkSession, dir: String): DataFrame = {
    val us30min = 30L * 60 * 1000000
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-us30min, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("events_30min", count(lit(1)).over(w))
      .withColumn("is_velocity_alert", (col("events_30min") > 5).as("is_velocity_alert"))
      .orderBy("event_id")
  }

  /** Salted two-phase aggregation (operators.Skew) under the oracle
    * gate: l_returnflag is a pathologically hot grouping key (3
    * values over the whole fact table — every row funnels into 3
    * reducers in the naive plan), so partials aggregate on
    * (key, salt) across 16 reducers per key first, then combine on
    * the key. The value is pre-cast to DECIMAL so the partial sums
    * are associative-exact and the salted result hashes identically
    * to the oracle's plain GROUP BY. */
  def q115SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").as("qty"))
    graft.operators.Skew.saltedSumCount(li, Seq("l_returnflag"), "qty", salts = 16)
      .select(col("l_returnflag").as("flag"),
        col("sum_qty").cast("double").as("sum_qty"),
        col("row_count"))
      .orderBy("flag")
  }

  val queries: Map[String, Q] = Map(
    "q01_pricing_summary" -> q01PricingSummary _,
    "q115_salted_agg" -> q115SaltedAgg _,
    "q02_filter_project" -> q02FilterProject _,
    "q03_star_join" -> q03StarJoin _,
    "q04_left_join_agg" -> q04LeftJoinAgg _,
    "q05_anti_join" -> q05AntiJoin _,
    "q06_semi_join" -> q06SemiJoin _,
    "q07_row_count_anomaly" -> q07RowCountAnomaly _,
    "q08_union_violations" -> q08UnionViolations _,
    "q09_dedup_latest" -> q09DedupLatest _,
    "q10_window_lag" -> q10WindowLag _,
    "q11_rolling_count" -> q11RollingCount _,
  )

  val oracles: Map[String, String] = Map(
    "q115_salted_agg" ->
      """SELECT l_returnflag AS flag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS row_count
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) AS DOUBLE) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT o_orderkey AS order_id, o_custkey AS customer_id,
        |  CASE WHEN o_orderstatus = 'F' THEN 'FULFILLED'
        |       WHEN o_orderstatus = 'O' THEN 'OPEN'
        |       WHEN o_orderstatus = 'P' THEN 'PENDING'
        |       ELSE 'UNKNOWN' END AS status_decoded,
        |  o_totalprice AS revenue_usd,
        |  CAST(o_orderdate AS DATE) AS order_date
        |FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL AND o_totalprice >= 0
        |ORDER BY order_id""".stripMargin,
    "q03_star_join" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS lineitem_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY region_name, nation_name""".stripMargin,
    "q04_left_join_agg" ->
      """SELECT c_custkey AS customer_id, c_name AS customer_name,
        |  COALESCE(oa.order_count, 0) AS order_count,
        |  COALESCE(oa.total_revenue, 0.0) AS total_revenue
        |FROM customer
        |LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS order_count,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
        |  FROM orders GROUP BY o_custkey
        |) oa ON c_custkey = oa.o_custkey
        |ORDER BY customer_id""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_custkey AS customer_id, c_name AS customer_name,
        |  c_mktsegment AS market_segment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY customer_id""".stripMargin,
    "q06_semi_join" ->
      """SELECT c_custkey AS customer_id, c_name AS customer_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY customer_id""".stripMargin,
    "q07_row_count_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS daily_rows
        |  FROM events GROUP BY 1
        |), latest AS (SELECT MAX(event_date) AS latest_date FROM daily)
        |SELECT t.daily_rows AS today_rows, b.baseline_avg_rows,
        |  t.daily_rows < b.baseline_avg_rows * 0.5 AS is_anomaly
        |FROM (SELECT daily_rows FROM daily, latest WHERE event_date = latest_date) t,
        |     (SELECT AVG(daily_rows) AS baseline_avg_rows
        |      FROM daily, latest WHERE event_date < latest_date) b""".stripMargin,
    "q08_union_violations" ->
      """SELECT 'lineitem_discount_gt_8pct' AS check_name, l_orderkey AS record_key,
        |  CAST(l_linenumber AS BIGINT) AS record_sub_key, l_discount AS offending_value
        |FROM lineitem WHERE l_discount > 0.08
        |UNION ALL
        |SELECT 'orders_price_gt_400k' AS check_name, o_orderkey AS record_key,
        |  0 AS record_sub_key, o_totalprice AS offending_value
        |FROM orders WHERE o_totalprice > 400000
        |ORDER BY check_name, record_key, record_sub_key""".stripMargin,
    "q09_dedup_latest" ->
      """SELECT user_id, event_type, event_id AS latest_event_id,
        |  value AS latest_value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS latest_ts
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS _rn
        |  FROM events
        |) WHERE _rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "q10_window_lag" ->
      """SELECT event_id, user_id, event_type,
        |  epoch_us(ts) AS ts_us,
        |  LAG(epoch_us(ts), 1) OVER w AS prev_ts_us,
        |  LAG(event_type, 1) OVER w AS prev_event_type,
        |  CAST((epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w) / 1000000 AS DOUBLE) AS gap_seconds
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "q11_rolling_count" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS events_30min,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) > 5 AS is_velocity_alert
        |FROM events
        |ORDER BY event_id""".stripMargin,
  )
}
