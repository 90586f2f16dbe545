package graft.queries

import graft.Tables
import graft.functions.Funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.8): surrogate keys (F9), PII
  * masking (F6/F7), split_part (F8), JSON extraction (F21), regex
  * gates (F23), haversine (F20). All pure built-in column expressions
  * — whole-stage-codegen'd, no UDFs.
  */
object Scalar {

  type Q = (SparkSession, String) => DataFrame

  /** F9: dbt generate_surrogate_key parity — md5 over '|'-joined
    * null-defaulted casts (reference generate_surrogate_key.sql:8-14,
    * used by dim_customers.sql:29, fact_calls.sql:52). Byte-for-byte
    * oracle-matched, which is what makes cross-engine key joins safe.
    */
  def q14SurrogateKey(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(
        col("c_custkey").as("customer_id"),
        surrogateKey(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment")).as("customer_key"),
        surrogateKey(col("c_custkey"), lit(null)).as("key_with_null"))
      .orderBy("customer_id")

  /** F6+F7: PII masking — name prefix + '***', email regex mask with
    * capture-group backrefs (reference dim_customers.sql:35-38).
    */
  def q15Masking(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .withColumn("email",
        concat(lower(regexp_replace(col("c_name"), "#", "")), lit("@example.com")))
      .select(
        col("c_custkey").as("customer_id"),
        maskName(col("c_name")).as("masked_name"),
        maskEmail(col("email")).as("masked_email"),
        substring(col("c_name"), 1, 8).as("name_prefix"))
      .orderBy("customer_id")

  /** F21: JSON payload extraction (reference kafka_to_bronze.py:123,
    * from_json on event values). get_json_object is codegen'd and
    * prunes to the single path.
    */
  def q26JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_value"))
      .withColumn("k_bucket", (col("k_value") % 10).cast("int"))
      .orderBy("event_id")

  /** F23/F25: regex-validity and value-set membership rates with
    * `mostly` tolerance (reference great_expectations_suite.py:63-75).
    * Single-row aggregate — the gate scalar is the only thing that
    * ever reaches the driver.
    */
  def q27RegexRates(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.agg(
      matchRate(col("text").rlike("spark")).as("rate_contains_spark"),
      matchRate(col("lang").rlike("^[a-z]{2}$")).as("rate_lang_wellformed"),
      matchRate(col("lang").isin("en", "de", "fr", "es", "zh")).as("rate_lang_known"),
      (matchRate(col("lang").isin("en", "de", "fr", "es", "zh")) >= 0.95).as("gate_lang_mostly"))
  }

  /** F8: split_part / token extraction (reference dim_customers.sql:48).
    */
  def q29SplitPart(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey").as("part_id"),
        split(col("p_name"), " ").getItem(0).as("name_first_token"),
        split(col("p_name"), " ").getItem(1).as("name_second_token"),
        size(split(col("p_name"), " ")).as("name_token_count"),
        split(col("p_brand"), "#").getItem(1).cast("int").as("brand_number"))
      .orderBy("part_id")

  /** F20: haversine great-circle distance from pure built-ins
    * (reference fraud_detection.py:64-71) over deterministic
    * integer-derived coordinates; rounded to 4 decimals to absorb
    * libm last-ulp differences between JVM and C.
    */
  def q30Haversine(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val lat1 = (col("c_custkey") % 180 - 90).cast("double")
    val lon1 = (col("c_custkey") * 7 % 360 - 180).cast("double")
    val lat2 = (col("c_nationkey") * 11 % 180 - 90).cast("double")
    val lon2 = (col("c_nationkey") * 13 % 360 - 180).cast("double")
    c.select(
      col("c_custkey").as("customer_id"),
      lat1.as("lat1"), lon1.as("lon1"), lat2.as("lat2"), lon2.as("lon2"),
      round(haversineKm(lat1, lon1, lat2, lon2), 4).as("distance_km"))
      .withColumn("is_impossible_travel", col("distance_km") >= 500.0)
      .orderBy("customer_id")
  }

  /** F15: fixed-runTs lineage stamps + relative filters (reference
    * silver_calls.sql:109, dim_customers.sql:91 use CURRENT_TIMESTAMP;
    * the deterministic equivalent injects a fixed run timestamp, which
    * is what makes the stamp oracle-checkable). The relative predicate
    * (runTs - 730 days) mirrors the reference's incremental-lookback
    * filters and stays sargable — Catalyst folds the literal interval
    * so the comparison pushes into the parquet scan.
    */
  def q192RunStamp(s: SparkSession, dir: String): DataFrame = {
    val runTs = lit("2000-03-15 00:00:00").cast("timestamp")
    Tables.orders(s, dir)
      .where(col("o_orderdate") >= runTs - expr("INTERVAL 730 DAYS") &&
        col("o_orderdate") < runTs)
      .select(
        col("o_orderkey").as("order_id"),
        runTs.as("run_ts"),
        datediff(to_date(runTs), to_date(col("o_orderdate"))).as("age_days"))
      .withColumn("is_recent", col("age_days") <= 90)
      .orderBy("order_id")
  }

  /** F22: ISO-8601 timestamp parsing incl. `Z` → `+00:00` handling
    * (reference fraud_detection.py:119,231-234 parses both forms).
    * Round-trips events.ts through both suffix variants and proves
    * they land on the identical instant; session TZ is UTC so the
    * epoch comparison is exact.
    */
  def q193IsoParse(s: SparkSession, dir: String): DataFrame = {
    val sec = date_trunc("second", col("ts"))
    val iso = date_format(sec, "yyyy-MM-dd'T'HH:mm:ss")
    Tables.events(s, dir)
      .select(
        col("event_id"),
        unix_micros(to_timestamp(concat(iso, lit("Z")))).as("epoch_z"),
        unix_micros(to_timestamp(concat(iso, lit("+00:00")))).as("epoch_offset"),
        (unix_micros(to_timestamp(concat(iso, lit("Z")))) === unix_micros(sec))
          .as("roundtrip_ok"))
      .orderBy("event_id")
  }

  /** F24: strftime-format validity gate with `mostly` tolerance
    * (reference great_expectations_suite.py:78-82 checks
    * `%Y-%m-%dT%H:%M:%S` at mostly=0.99). A deterministic 1/97 slice
    * of rows is corrupted (T→space) so the rate genuinely sits between
    * the 0.99 gate and 1.0; `try_to_timestamp` mirrors DuckDB's
    * try_strptime null-on-malformed semantics (plain `to_timestamp`
    * would THROW under ANSI mode, which is on by default in Spark 4).
    */
  def q194FormatValidity(s: SparkSession, dir: String): DataFrame = {
    val iso = date_format(date_trunc("second", col("ts")), "yyyy-MM-dd'T'HH:mm:ss")
    val candidate = when(col("event_id") % 97 === 0, translate(iso, "T", " "))
      .otherwise(iso)
    val valid = try_to_timestamp(candidate, lit("yyyy-MM-dd'T'HH:mm:ss")).isNotNull
    Tables.events(s, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(valid.cast("long")).as("n_valid"),
        avg(valid.cast("double")).as("valid_rate"),
        (avg(valid.cast("double")) >= 0.99).as("gate_mostly_99"))
  }

  val queries: Map[String, Q] = Map(
    "q14_surrogate_key" -> q14SurrogateKey _,
    "q15_masking" -> q15Masking _,
    "q26_json_extract" -> q26JsonExtract _,
    "q27_regex_rates" -> q27RegexRates _,
    "q29_split_part" -> q29SplitPart _,
    "q30_haversine" -> q30Haversine _,
    "q192_run_stamp" -> q192RunStamp _,
    "q193_iso_parse" -> q193IsoParse _,
    "q194_format_validity" -> q194FormatValidity _,
  )

  val oracles: Map[String, String] = Map(
    "q14_surrogate_key" ->
      """SELECT c_custkey AS customer_id,
        |  md5(concat_ws('|',
        |    COALESCE(CAST(c_custkey AS VARCHAR), 'UNKNOWN'),
        |    COALESCE(CAST(c_name AS VARCHAR), 'UNKNOWN'),
        |    COALESCE(CAST(c_nationkey AS VARCHAR), 'UNKNOWN'),
        |    COALESCE(CAST(c_mktsegment AS VARCHAR), 'UNKNOWN'))) AS customer_key,
        |  md5(concat_ws('|',
        |    COALESCE(CAST(c_custkey AS VARCHAR), 'UNKNOWN'), 'UNKNOWN')) AS key_with_null
        |FROM customer ORDER BY customer_id""".stripMargin,
    "q15_masking" ->
      """SELECT c_custkey AS customer_id,
        |  substr(c_name, 1, 2) || '***' AS masked_name,
        |  regexp_replace(lower(replace(c_name, '#', '')) || '@example.com',
        |    '(.{2}).+(@.+)', '\1***\2') AS masked_email,
        |  substr(c_name, 1, 8) AS name_prefix
        |FROM customer ORDER BY customer_id""".stripMargin,
    "q26_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
        |  CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS INTEGER) AS k_bucket
        |FROM events ORDER BY event_id""".stripMargin,
    "q27_regex_rates" ->
      """SELECT
        |  CAST(SUM(CASE WHEN regexp_matches(text, 'spark') THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS rate_contains_spark,
        |  CAST(SUM(CASE WHEN regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS rate_lang_wellformed,
        |  CAST(SUM(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS rate_lang_known,
        |  CAST(SUM(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) >= 0.95 AS gate_lang_mostly
        |FROM documents""".stripMargin,
    "q29_split_part" ->
      """SELECT p_partkey AS part_id,
        |  split_part(p_name, ' ', 1) AS name_first_token,
        |  split_part(p_name, ' ', 2) AS name_second_token,
        |  CAST(len(string_split(p_name, ' ')) AS INTEGER) AS name_token_count,
        |  CAST(split_part(p_brand, '#', 2) AS INTEGER) AS brand_number
        |FROM part ORDER BY part_id""".stripMargin,
    "q30_haversine" ->
      """WITH coords AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 180 - 90 AS DOUBLE) AS lat1,
        |    CAST(c_custkey * 7 % 360 - 180 AS DOUBLE) AS lon1,
        |    CAST(c_nationkey * 11 % 180 - 90 AS DOUBLE) AS lat2,
        |    CAST(c_nationkey * 13 % 360 - 180 AS DOUBLE) AS lon2
        |  FROM customer)
        |SELECT c_custkey AS customer_id, lat1, lon1, lat2, lon2,
        |  round(2 * 6371.0 * asin(sqrt(
        |    pow(sin(radians(lat2 - lat1) / 2), 2) +
        |    cos(radians(lat1)) * cos(radians(lat2)) *
        |    pow(sin(radians(lon2 - lon1) / 2), 2))), 4) AS distance_km,
        |  round(2 * 6371.0 * asin(sqrt(
        |    pow(sin(radians(lat2 - lat1) / 2), 2) +
        |    cos(radians(lat1)) * cos(radians(lat2)) *
        |    pow(sin(radians(lon2 - lon1) / 2), 2))), 4) >= 500.0 AS is_impossible_travel
        |FROM coords ORDER BY customer_id""".stripMargin,
    "q192_run_stamp" ->
      """SELECT o_orderkey AS order_id,
        |  TIMESTAMP '2000-03-15 00:00:00' AS run_ts,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-03-15') AS INTEGER) AS age_days,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '2000-03-15') <= 90 AS is_recent
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2000-03-15 00:00:00' - INTERVAL 730 DAY
        |  AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
        |ORDER BY order_id""".stripMargin,
    "q193_iso_parse" ->
      """WITH s AS (
        |  SELECT event_id, date_trunc('second', ts) AS sec,
        |    strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S') AS iso
        |  FROM events)
        |SELECT event_id,
        |  epoch_us(CAST(iso || 'Z' AS TIMESTAMPTZ)) AS epoch_z,
        |  epoch_us(CAST(iso || '+00:00' AS TIMESTAMPTZ)) AS epoch_offset,
        |  epoch_us(CAST(iso || 'Z' AS TIMESTAMPTZ)) = epoch_us(sec) AS roundtrip_ok
        |FROM s ORDER BY event_id""".stripMargin,
    "q194_format_validity" ->
      """WITH s AS (
        |  SELECT CASE WHEN event_id % 97 = 0
        |      THEN replace(strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S'), 'T', ' ')
        |      ELSE strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S') END AS cand
        |  FROM events)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN try_strptime(cand, '%Y-%m-%dT%H:%M:%S') IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(SUM(CASE WHEN try_strptime(cand, '%Y-%m-%dT%H:%M:%S') IS NOT NULL
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS valid_rate,
        |  CAST(SUM(CASE WHEN try_strptime(cand, '%Y-%m-%dT%H:%M:%S') IS NOT NULL
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.99 AS gate_mostly_99
        |FROM s""".stripMargin,
  )
}
