package graft.queries

import graft.Tables
import graft.functions.Funcs._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-quality / observability surface (SURVEY.md §2.4 A6-A12, §2.8
  * F23-F26; reference pipeline_observability.py + dbt tests + GX
  * suites). Every monitor is a distributed aggregation — only the
  * final gate scalar is driver-sized.
  */
object Quality {

  type Q = (SparkSession, String) => DataFrame

  /** A3: conditional-aggregation pivot counters (reference
    * fact_calls.sql:79-82 / agg_tower_hourly_utilization.sql:37-38).
    */
  def q17ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        count(lit(1)).as("order_count"),
        countIf(col("o_orderstatus") === "F").as("fulfilled_count"),
        countIf(col("o_orderstatus") === "O").as("open_count"),
        countIf(col("o_orderstatus") === "P").as("pending_count"),
        dsum(col("o_totalprice")).as("total_revenue"),
        matchRate(col("o_orderstatus") === "F").as("fulfilled_rate"))
      .orderBy("priority")

  /** A4: MIN/MAX-of-ordinal "worst status" trick — encode enum→rank,
    * MAX(rank), decode back (reference
    * agg_tower_hourly_utilization.sql:70-75,106-111).
    */
  def q18WorstStatus(s: SparkSession, dir: String): DataFrame = {
    val rank = when(col("o_orderstatus") === "F", 1)
      .when(col("o_orderstatus") === "O", 2)
      .when(col("o_orderstatus") === "P", 3)
      .otherwise(0)
    Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("customer_id"))
      .agg(max(rank).as("worst_rank"), count(lit(1)).as("order_count"))
      .withColumn("worst_status",
        when(col("worst_rank") === 3, "PENDING")
          .when(col("worst_rank") === 2, "OPEN")
          .when(col("worst_rank") === 1, "FULFILLED")
          .otherwise("UNKNOWN"))
      .orderBy("customer_id")
  }

  /** A7: volume z-score anomaly monitor (reference
    * pipeline_observability.py:99-139). stddev is computed from exact
    * integer sums (Σx, Σx²) so the whole statistic is
    * order-independent — the built-in stddev_samp's merge order
    * nondeterminism would break oracle parity.
    */
  def q20ZscoreAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("event_date"))
      .agg(count(lit(1)).as("daily_rows"))
    val stats = daily.agg(
      count(lit(1)).as("n"),
      sum("daily_rows").as("sx"),
      sum(col("daily_rows") * col("daily_rows")).as("sx2"))
    daily.crossJoin(broadcast(stats))
      .select(
        col("event_date"),
        col("daily_rows"),
        ((col("n") * col("sx2") - col("sx") * col("sx")) /
          (col("n") * (col("n") - lit(1)))).as("variance"),
        (col("sx") / col("n")).cast("double").as("mean_rows"))
      .withColumn("z_score",
        ((col("daily_rows") - col("mean_rows")) / sqrt(col("variance"))).cast("double"))
      .withColumn("is_anomaly", abs(col("z_score")) > 3.0)
      .select("event_date", "daily_rows", "mean_rows", "z_score", "is_anomaly")
      .orderBy("event_date")
  }

  /** A9: null-rate monitor (reference pipeline_observability.py:150-173)
    * over synthesized nullables (NULLIF) — one pass, one row out.
    */
  def q21NullRates(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        nullif(col("o_orderstatus"), lit("P")).as("status_nullable"),
        nullif(col("o_orderpriority"), lit("5-LOW")).as("priority_nullable"),
        when(col("o_totalprice") > 300000, col("o_totalprice")).as("high_price_only"))
      .agg(
        nullRate(col("status_nullable")).as("null_rate_status"),
        nullRate(col("priority_nullable")).as("null_rate_priority"),
        nullRate(col("high_price_only")).as("null_rate_high_price"),
        count(lit(1)).as("row_count"))

  /** A8: cardinality monitor — exact COUNT DISTINCT (reference
    * pipeline_observability.py:175-205; at 100 TB swap in
    * approx_count_distinct — telecom.Checks.cardinalityDrift — or the
    * mergeable KMV sketch, q76/q82).
    */
  def q22Cardinality(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .agg(
        countDistinct(col("user_id")).as("distinct_users"),
        countDistinct(col("event_type")).as("distinct_event_types"),
        countDistinct(col("ts").cast("date")).as("distinct_days"),
        count(lit(1)).as("total_rows"))

  /** A10: median / quantile distribution gates (reference
    * great_expectations_suite.py:127-138). Quartile fractions on
    * integer-valued data interpolate exactly in both engines.
    */
  def q23Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .agg(
        expr("percentile(l_quantity, 0.25)").as("qty_p25"),
        expr("percentile(l_quantity, 0.5)").as("qty_median"),
        expr("percentile(l_quantity, 0.75)").as("qty_p75"),
        davg(col("l_quantity")).as("qty_mean"))
      .withColumn("gate_median_in_range",
        col("qty_median").between(1.0, 50.0))

  /** A11: uniqueness gates (dbt `unique` / GX; reference
    * models/silver/schema.yml:12-13) — duplicate-key survivors from
    * two tables, UNION ALL'd.
    */
  def q24Uniqueness(s: SparkSession, dir: String): DataFrame = {
    val dupEvents = Tables.events(s, dir)
      .groupBy(col("event_id").as("key_value")).agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") > 1)
      .withColumn("check_name", lit("events_event_id_unique"))
    val dupUsers = Tables.events(s, dir)
      .groupBy(col("user_id").as("key_value")).agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") > 1)
      .withColumn("check_name", lit("events_user_id_unique"))
    dupEvents.unionAll(dupUsers)
      .select("check_name", "key_value", "occurrences")
      .orderBy("check_name", "key_value")
  }

  /** F26: between-range gates in one pass (reference
    * great_expectations_suite.py:55-60,119-124).
    */
  def q28RangeGates(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .agg(
        countIf(!col("l_quantity").between(0, 100)).as("qty_violations"),
        countIf(!col("l_discount").between(0.0, 0.1)).as("discount_violations"),
        countIf(!col("l_tax").between(0.0, 0.1)).as("tax_violations"),
        countIf(col("l_extendedprice") < 0).as("negative_price_violations"),
        count(lit(1)).as("rows_checked"))
      .withColumn("all_gates_pass",
        col("qty_violations") + col("discount_violations") +
          col("tax_violations") + col("negative_price_violations") === 0)

  /** O1-ish top-k: deterministic total order with key tie-break, then
    * LIMIT — Spark plans TakeOrderedAndProject (no global sort
    * shuffle), which is the scale-safe top-k.
    */
  def q31TopRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("customer_id"))
      .agg(dsum(col("o_totalprice")).as("total_revenue"),
        count(lit(1)).as("order_count"))
      .orderBy(col("total_revenue").desc, col("customer_id"))
      .limit(10)

  /** A8 at 100 TB: mergeable KMV distinct-count sketch (native
    * TypedImperativeAggregate `graft_kmv`) next to the exact count.
    * The shuffle carries at most k=256 hashes per group per task —
    * never the row stream — and merged sketches re-aggregate to
    * rollup-level estimates. Estimate = (k-1)/frac(kth smallest
    * md5), frac from the first 12 hex digits (exact in doubles in
    * both engines); groups with fewer than k distinct values return
    * the exact count (the sketch IS the distinct set there). */
  def q76KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val frac = conv(substring(col("kth"), 1, 12), 16, 10).cast("double") /
      lit(math.pow(16.0, 12.0))
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(
        countDistinct(col("o_custkey")).as("n_exact"),
        call_function("graft_kmv",
          md5(col("o_custkey").cast("string")), lit(k)).as("sketch"))
      .withColumn("sketch_size", size(col("sketch")).cast("long"))
      .withColumn("kth", try_element_at(col("sketch"), lit(k)))
      .withColumn("kmv_est",
        when(col("sketch_size") < k, col("sketch_size").cast("double"))
          .otherwise(lit((k - 1).toDouble) / frac))
      .select(col("status"), col("n_exact"), col("sketch_size"), col("kmv_est"))
      .orderBy("status")
  }

  /** KMV estimate from a sketch array column: exact count when the
    * sketch holds fewer than k values, else (k-1)/frac(kth min). */
  private def kmvEst(sketch: Column, k: Int): Column = {
    val frac = conv(substring(try_element_at(sketch, lit(k)), 1, 12), 16, 10)
      .cast("double") / lit(math.pow(16.0, 12.0))
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble) / frac)
  }

  /** Sketch ALGEBRA — the 100 TB point of mergeable sketches: the
    * per-status customer sketches from q76 are combined WITHOUT
    * re-reading orders. Union sketch = k smallest of the two k-min
    * sets (pure array ops on the 256-hash summaries);
    * |A∩B| ≈ est|A| + est|B| − est|A∪B| by inclusion-exclusion. The
    * exact overlap rides along for calibration. */
  def q82KmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val sk = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(call_function("graft_kmv",
        md5(col("o_custkey").cast("string")), lit(k)).as("sketch"))
    val a = sk.select(col("status").as("status_a"), col("sketch").as("sk_a"))
    val b = sk.select(col("status").as("status_b"), col("sketch").as("sk_b"))
    val exact = {
      val d = Tables.orders(s, dir)
        .select(col("o_orderstatus").as("st"), col("o_custkey").as("ck")).distinct()
      val da = d.select(col("st").as("status_a"), col("ck"))
      val db = d.select(col("st").as("status_b"), col("ck"))
      da.join(db, "ck").filter(col("status_a") < col("status_b"))
        .groupBy("status_a", "status_b")
        .agg(count(lit(1)).as("exact_overlap"))
    }
    a.crossJoin(b).filter(col("status_a") < col("status_b"))
      .withColumn("sk_union",
        slice(array_sort(array_distinct(concat(col("sk_a"), col("sk_b")))), 1, k))
      .select(
        col("status_a"), col("status_b"),
        kmvEst(col("sk_a"), k).as("est_a"),
        kmvEst(col("sk_b"), k).as("est_b"),
        kmvEst(col("sk_union"), k).as("est_union"))
      .withColumn("est_overlap",
        col("est_a") + col("est_b") - col("est_union"))
      .join(exact, Seq("status_a", "status_b"), "left")
      .withColumn("exact_overlap", coalesce(col("exact_overlap"), lit(0L)))
      .orderBy("status_a", "status_b")
  }

  /** Quantile estimation from a deterministic hash sample — the
    * portable scale answer when a mergeable digest isn't
    * cross-engine: a 1/8 md5-threshold sample is identical in any
    * engine, so sampled quantiles are hash-exact while the estimator
    * touches a fraction of the data. Implemented as ONE aggregation
    * pass: the sampled column is the raw value masked by the hash
    * predicate (percentile ignores nulls), so no self-join and no
    * second scan; exact quantiles ride along to show the error. */
  def q85SampleQuantiles(s: SparkSession, dir: String): DataFrame = {
    val key = md5(concat_ws("|", col("l_orderkey"), col("l_linenumber")))
    // cast to double BEFORE the aggregate (r12): percentile's partial
    // buffers key the value — Decimal keys hash/compare/serialize as
    // BigDecimal objects, doubles as 8 bytes. The cast is injective
    // and order-preserving for decimal(12,2) (ulp at 1e10 ≪ half the
    // 0.01 step — NOT "exact": 0.01 itself has no binary form), and
    // percentile converts to double internally anyway, so the result
    // is bit-identical (oracle-checked) while the map-side buffers and
    // the final merge shrink ~4×. A wider decimal (e.g. 18,2) could
    // collide in double — re-derive the ulp bound before widening.
    Tables.lineitem(s, dir)
      .select(col("l_extendedprice").cast("double").as("v"),
        when(key < "2", col("l_extendedprice").cast("double")).as("vs"))
      .agg(
        count(col("v")).as("rows_total"),
        count(col("vs")).as("rows_sampled"),
        expr("percentile(v, 0.5)").as("p50_exact"),
        expr("percentile(vs, 0.5)").as("p50_est"),
        expr("percentile(v, 0.95)").as("p95_exact"),
        expr("percentile(vs, 0.95)").as("p95_est"))
  }

  /** Mergeable quantile SKETCH with a hard relative-error bound —
    * the native-aggregate scale path the percentile family was
    * missing: q23/q85's exact `percentile()` legs merge every value
    * at one reducer and q128's funnel takes two passes, while
    * [[graft.plans.HdrQuantileAgg]] (`graft_hdr`) is ONE pass whose
    * shuffle carries a bounded bucket map per group (≤ ~1.9k entries
    * at b=5, independent of n) and whose partial states merge by
    * count addition — the percentile_approx slot, but with a
    * guarantee (lb ≤ Q_true < lb·(1+2⁻ᵇ)) and INTEGER-exact
    * portability: the log-linear bucket law is shifts and bit
    * lengths, so the oracle replays it bit-for-bit (DuckDB's
    * length(bin(v)) is the JVM's 64 − numberOfLeadingZeros).
    * Mirrors the reference's percentile/median quality gates
    * (soda_checks avg/median thresholds) at the cardinality where
    * exact percentile stops fitting one reducer. */
  def q243HdrQuantiles(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    Tables.orders(s, dir)
      .select(col("o_orderstatus").as("status"), cents.as("v"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        call_function("graft_hdr", col("v"), lit(5), lit(50)).as("p50_lb"),
        call_function("graft_hdr", col("v"), lit(5), lit(95)).as("p95_lb"),
        call_function("graft_hdr", col("v"), lit(5), lit(99)).as("p99_lb"))
      .orderBy("status")
  }

  /** Sketch ROLLUP — re-aggregation without re-scan: weekly distinct
    * users estimated by MERGING each week's daily KMV sketches
    * (flatten + distinct + sort + take-k = the exact min-k union;
    * collect_list gathers ≤7 bounded arrays per week). Because the
    * week's k smallest hashes are each among their own day's k
    * smallest, the merged sketch is IDENTICAL to a sketch built
    * directly from the week's rows — the oracle computes that direct
    * weekly min-k in SQL and the estimates hash-match exactly. This
    * is the dashboard pattern at 100 TB: persist tiny daily sketches,
    * answer any-window distinct-count queries from sketch algebra
    * alone (q82 is the set-overlap face of the same algebra). */
  def q126SketchRollup(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val ev = Tables.events(s, dir).select(
      date_trunc("week", col("ts")).cast("date").as("week"),
      col("ts").cast("date").as("day"),
      md5(col("user_id").cast("string")).as("h"))
    val daily = ev.groupBy("week", "day")
      .agg(call_function("graft_kmv", col("h"), lit(k)).as("sketch"))
    daily.groupBy("week")
      .agg(count(lit(1)).as("days_merged"),
        slice(array_sort(array_distinct(flatten(collect_list(col("sketch"))))),
          1, k).as("merged"))
      .select(col("week"), col("days_merged"),
        size(col("merged")).cast("long").as("sketch_size"),
        kmvEst(col("merged"), k).cast("double").as("weekly_users_est"))
      .orderBy("week")
  }

  /** Exact median WITHOUT a global sort: the two-pass histogram
    * funnel ([[graft.operators.ExactQuantile]]) — a bounded bucket
    * histogram locates the middle ranks, then the rank lookup scans
    * ONLY the located bucket (TakeOrdered of the local offset + MAX;
    * no window, no corpus-wide exchange). q23's percentile() is the
    * small-group form; this is its corpus-scale path. EAGER at build
    * time like q98/q105: both passes run as driver actions during
    * DataFrame construction. The interpolated median derives from
    * exact middle-rank CENTS at the end, so the double is identical
    * cross-engine. */
  def q128ExactMedian(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    val (n, midSum, midCount) =
      graft.operators.ExactQuantile.medianCents(Tables.lineitem(s, dir), cents)
    import s.implicits._
    Seq((n, midSum)).toDF("n", "mid_sum_cents")
      .select(col("n"), col("mid_sum_cents"),
        (col("mid_sum_cents").cast("double") /
          lit(midCount * 100).cast("double")).as("median_price"))
  }

  /** Exact PER-GROUP percentiles at scale — q128's histogram funnel,
    * grouped: nearest-rank p50/p95 of event value per event_type in
    * two passes (a (group, bucket) histogram, then ONE scan pruned to
    * the located buckets and ranked only within (group, bucket,
    * pct)). No global or per-group full sort anywhere — q37's
    * percentile() is the small-group form this replaces at corpus
    * scale. EAGER at build time like q128: pass 1 collects the
    * bounded histogram while the DataFrame is constructed; pass 2
    * stays lazy. */
  def q129GroupedPercentiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.ExactQuantile.groupedQuantiles(
      Tables.events(s, dir), "event_type",
      (col("value").cast("decimal(18,2)") * 100).cast("long"),
      Seq("p50" -> 0.5, "p95" -> 0.95))

  /** Robust outlier detection via MAD (median absolute deviation) —
    * the distribution-free cousin of q20's z-score monitor: flag
    * |x − median| > 3·1.4826·MAD (1.4826 rescales MAD to σ under
    * normality). Composes the q128 histogram funnel TWICE — once for
    * the median, once for the median of deviations — so there is no
    * global sort at either level; deviations are kept integral in
    * HALF-cents (|2v − 2·median| — 2·median is integral whether the
    * median interpolates or not), so the second funnel's histogram
    * keys and comparisons are exact. The final median/MAD doubles are
    * integer ratios with power-of-two denominators (÷2, ÷4) — exact
    * in binary, so the flag threshold is bit-identical cross-engine.
    * EAGER at build time like q128 (both funnel passes are driver
    * actions during construction). */
  def q134MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val centsExpr = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), centsExpr.as("v"))
    val (_, midSum, midCount) =
      graft.operators.ExactQuantile.medianCents(base, col("v"))
    val med = midSum.toDouble / midCount
    val med2 = if (midCount == 2) midSum else 2 * midSum
    val dev = base.withColumn("dev2", abs(col("v") * 2 - lit(med2)))
    val (_, midSum2, midCount2) =
      graft.operators.ExactQuantile.medianCents(dev, col("dev2"))
    val madCents = midSum2.toDouble / (2.0 * midCount2)
    base.select(col("event_id"), col("user_id"), col("v").as("value_cents"),
        lit(med).as("median_cents"), lit(madCents).as("mad_cents"),
        abs(col("v").cast("double") - lit(med)).as("abs_dev_cents"))
      .withColumn("is_outlier",
        col("abs_dev_cents") > (lit(3.0) * lit(1.4826)) * lit(madCents))
      .orderBy("event_id")
  }

  /** Chi-square independence test between two categorical columns
    * (lang × source) — the statistical drift monitor behind "did the
    * crawl mix shift?": observed cell counts vs expected
    * rowTotal·colTotal/N, χ² = Σ(n−e)²/e with dof
    * (|rows|−1)(|cols|−1). One keyed groupBy builds the contingency
    * table; the marginal windows run over the |langs|·|sources|-row
    * aggregate (alphabet-bounded, q121's argument), and the two
    * 1-row-aggregate cross joins are the q07/q124 idiom. Per-cell
    * contributions are rounded to 6 dp and summed as DECIMAL so the
    * χ² total is order-independent and bit-identical cross-engine. */
  def q137ChiSquare(s: SparkSession, dir: String): DataFrame = {
    val scored = chi2Contrib(s, dir)
    scored
      .crossJoin(scored.agg(sum(col("contrib")).as("chi2_sum")))
      .select(col("lang"), col("source"), col("observed"),
        col("expected"), col("contrib").cast("double").as("cell_chi2"),
        col("chi2_sum").cast("double").as("chi2_total"),
        ((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"))
      .orderBy("lang", "source")
  }

  /** q137's χ² cell-contribution frame: contingency counts, marginal
    * windows over the alphabet-bounded aggregate, expected counts,
    * and the 6-dp DECIMAL cell contributions (observed cells only —
    * q191 carries the grid-complete textbook sum). */
  private def chi2Contrib(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("observed"))
    val wl = Window.partitionBy("lang")
    val ws = Window.partitionBy("source")
    val marg = cells
      .withColumn("row_total", sum(col("observed")).over(wl))
      .withColumn("col_total", sum(col("observed")).over(ws))
    val tot = cells.agg(
      sum(col("observed")).as("n_total"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    marg.crossJoin(tot)
      .withColumn("expected",
        (col("row_total") * col("col_total")).cast("double") /
          col("n_total").cast("double"))
      .withColumn("contrib",
        round((col("observed").cast("double") - col("expected")) *
          (col("observed").cast("double") - col("expected")) / col("expected"), 6)
          .cast(DecimalType(18, 6)))
  }

  /** Cramér's V — the NORMALIZED effect size on top of χ² (χ² grows
    * with n even for a fixed association; V = √(χ² / (n·min(r−1,
    * c−1))) ∈ [0,1] is the number a drift dashboard can threshold
    * without knowing the corpus size). Unlike q137 — a per-OBSERVED-
    * cell monitor — the textbook statistic needs the FULL r×c grid:
    * an unobserved cell contributes its whole expected count
    * ((0−e)²/e = e), and dropping those understates χ² on sparse
    * tables. The grid is the cross of the two marginal aggregates
    * (alphabet-bounded, q190's idiom) left-joined with observed
    * cells; contributions follow the 6-dp DECIMAL discipline, then
    * one final sqrt. */
  def q191CramersV(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("observed"))
    val byLang = cells.groupBy("lang").agg(sum(col("observed")).as("row_total"))
    val bySource = cells.groupBy("source").agg(sum(col("observed")).as("col_total"))
    val tot = cells.agg(sum(col("observed")).as("n_total"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    byLang.crossJoin(bySource).crossJoin(tot)
      .join(cells, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("observed"), lit(0L)))
      .withColumn("expected",
        (col("row_total") * col("col_total")).cast("double") /
          col("n_total").cast("double"))
      .withColumn("contrib",
        round((col("o").cast("double") - col("expected")) *
          (col("o").cast("double") - col("expected")) / col("expected"), 6)
          .cast(DecimalType(18, 6)))
      .agg(sum(col("contrib")).as("chi2_dec"),
        max(col("n_total")).as("n_total"),
        max(col("n_langs")).as("n_langs"),
        max(col("n_sources")).as("n_sources"))
      .select(col("chi2_dec").cast("double").as("chi2_total"),
        col("n_total"),
        least(col("n_langs") - 1, col("n_sources") - 1).as("dof_min"),
        sqrt(col("chi2_dec").cast("double") /
          (col("n_total") * least(col("n_langs") - 1, col("n_sources") - 1))
            .cast("double")).as("cramers_v"))
  }

  /** Jensen–Shannon divergence of each source's language mix from
    * the corpus-wide mix — the bounded, symmetric drift metric
    * (0 ≤ JSD ≤ ln 2) a crawl-mixture monitor publishes per source;
    * unlike KL it never blows up on a language a source lacks.
    * Distribution support is the |sources|·|langs| grid (alphabet-
    * bounded, q137's argument), built by cross-joining the two
    * marginal aggregates and left-joining observed cells so absent
    * (source, lang) pairs contribute their q·ln2 mass. Each ½-term
    * follows the q160 log discipline — 6-dp-rounded ln, product,
    * exact /2, 6-dp round, DECIMAL(18,6) sum — so the per-source
    * total is order-independent and bit-identical cross-engine. */
  def q190SourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c_sl"))
    val bySource = cells.groupBy("source").agg(sum(col("c_sl")).as("n_s"))
    val byLang = cells.groupBy("lang").agg(sum(col("c_sl")).as("c_l"))
    val tot = cells.agg(sum(col("c_sl")).as("n_tot"))
    val grid = bySource.crossJoin(byLang).crossJoin(tot)
      .join(cells, Seq("source", "lang"), "left")
      .withColumn("c_sl", coalesce(col("c_sl"), lit(0L)))
      .withColumn("p", col("c_sl").cast("double") / col("n_s").cast("double"))
      .withColumn("q", col("c_l").cast("double") / col("n_tot").cast("double"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
    grid
      .withColumn("t_p",
        when(col("c_sl") > 0,
          round(col("p") * round(log(col("p") / col("m")), 6) / lit(2.0), 6))
          .otherwise(lit(0.0)).cast(DecimalType(18, 6)))
      .withColumn("t_q",
        round(col("q") * round(log(col("q") / col("m")), 6) / lit(2.0), 6)
          .cast(DecimalType(18, 6)))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_docs"),
        sum(col("t_p") + col("t_q")).cast("double").as("jsd_nats"))
      .orderBy("source")
  }

  /** Equi-depth (equal-count) histogram — the binning CBO statistics
    * and feature engineering both need: quartile cut points come from
    * the q129 grouped funnel (nearest-rank, no global sort — q38 is
    * the equi-WIDTH cousin whose buckets come free), then ONE scan
    * labels rows and aggregates per-bucket stats. The cut points are
    * 3 driver-side integers shipped as literals; everything else is a
    * keyed aggregate. Bucket populations differ from n/4 only by the
    * mass of duplicate values pinned at a cut point — exact by
    * construction, not approximately-equal. */
  def q138EquiDepthHist(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    // three consumers scan this frame (histogram pass, pruned rank
    // lookup, final labeling aggregate) — persist the 2-column
    // projection once; Bench/Verify sweep leaked blocks per query
    val src = Tables.lineitem(s, dir).select(lit("all").as("g"), cents.as("v"))
      .persist()
    val cuts = graft.operators.ExactQuantile.groupedQuantiles(
        src, "g", col("v"), Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      .collect().map(r => r.getAs[String]("pct") -> r.getAs[Long]("value_cents"))
      .toMap
    src.withColumn("bucket",
        when(col("v") <= cuts("p25"), "b1")
          .when(col("v") <= cuts("p50"), "b2")
          .when(col("v") <= cuts("p75"), "b3")
          .otherwise("b4"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("min_cents"), max(col("v")).as("max_cents"),
        sum(col("v")).as("sum_cents"))
      .withColumn("p25_cents", lit(cuts("p25")))
      .withColumn("p50_cents", lit(cuts("p50")))
      .withColumn("p75_cents", lit(cuts("p75")))
      .orderBy("bucket")
  }

  /** Per-group OLS trend line (volume trending up or down?) — the
    * regression cousin of q20's z-score and q106's EWMA: daily counts
    * per event_type regressed on the day index in closed form,
    * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²). All five moments are
    * BIGINT-exact (order-independent integer sums — the only doubles
    * are the two final divisions and one multiply, written
    * identically in the oracle), so a distributed aggregation can't
    * hash-diverge the way per-point double regression would. Two
    * keyed shuffles: the (type, day) rollup, then the |types|-row
    * moment aggregate. */
  def q139TrendLine(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("x"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .cast("double"))
      .withColumn("intercept",
        ((col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n_days").cast("double")).cast("double"))
      .orderBy("event_type")
  }

  /** Quantity-weighted median unit price — "the typical price a unit
    * actually sold at", where a 50-unit line outweighs a 1-unit line
    * 50:1. The funnel's weighted extension
    * ([[graft.operators.ExactQuantile.weightedMedianCents]]): a
    * SUM(weight) bucket histogram locates the weighted rank
    * k = (W+1)/2, then one bucket-pruned scan finds the crossing
    * value. EAGER at build time like q128. The only unpartitioned
    * window runs inside the single located bucket (allowlisted with
    * that bound). */
  def q140WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val (total, k, med) = graft.operators.ExactQuantile.weightedMedianCents(
      Tables.lineitem(s, dir),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
      col("l_quantity").cast("long"))
    import s.implicits._
    Seq((total, k, med)).toDF("total_weight", "k", "weighted_median_cents")
  }

  /** DAU / trailing-28-day MAU stickiness, EXACT at scale: the naive
    * "distinct users over a sliding 28-day window per day" either
    * re-scans 28× or holds per-day user sets; instead each (user,
    * day) activity row CONTRIBUTES to the 28 target days it is
    * visible from (a bounded explode — constant 28× blow-up of the
    * deduped activity frame, generated scan-side), and the MAU is one
    * keyed distinct count per target day. Same trick as q130's
    * generated spine: never a join, never per-day state. */
  def q144Stickiness(s: SparkSession, dir: String): DataFrame = {
    val au = Tables.events(s, dir)
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
    val dau = au.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
    val mau = au
      .withColumn("target_day",
        explode(expr("sequence(day, date_add(day, 27), interval 1 day)")))
      .groupBy(col("target_day").as("day"))
      .agg(countDistinct(col("user_id")).as("mau_28d"))
    dau.join(mau, "day")
      .withColumn("stickiness",
        (col("dau").cast("double") / col("mau_28d").cast("double"))
          .cast("double"))
      .orderBy("day")
  }

  /** Benford first-digit audit over order amounts — the forensic DQ
    * gate for fabricated numbers: observed leading-digit shares vs
    * the Benford expectation log₁₀(1+1/d). The nine expected shares
    * are 6-dp literals (identical text in both engines — no runtime
    * transcendental), the observed share is one exact division, and
    * the whole query is a 9-row aggregate plus the q07-idiom 1-row
    * total cross. */
  def q145Benford(s: SparkSession, dir: String): DataFrame = {
    val benford = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    val counts = Tables.orders(s, dir)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit").between(1, 9))
      .groupBy("digit").agg(count(lit(1)).as("observed"))
    val expected = benford.zipWithIndex
      .foldLeft(lit(null).cast("double")) { case (acc, (p, i)) =>
        when(col("digit") === i + 1, lit(p)).otherwise(acc)
      }
    counts.crossJoin(counts.agg(sum(col("observed")).as("total")))
      .withColumn("share",
        (col("observed").cast("double") / col("total").cast("double"))
          .cast("double"))
      .withColumn("expected_share", expected)
      .withColumn("abs_dev", abs(col("share") - col("expected_share")))
      .orderBy("digit")
  }

  /** HyperLogLog register sketch (Flajolet et al. 2007), made
    * deterministic end-to-end so the oracle can replay it bit-exact:
    * 48-bit md5-prefix hash (the house q131/q141 slice), top 6 bits
    * pick one of m = 64 registers, the register keeps the max
    * "leading-zero rank" of the remaining 42 bits (computed as
    * 43 − len(bin(w)) — both engines' bin() drops leading zeros),
    * and the raw HLL estimate is α₆₄·m²/Σ2^(−r). Every 2^(−r) is an
    * exact dyadic double and the 64-term sum spans < 53 bits, so the
    * sum is EXACT regardless of aggregation order — the whole
    * estimate is reproducible across engines and partitionings with
    * no float tolerance. The raw estimate is emitted uncorrected
    * (no linear-counting branch — that needs ln) next to the exact
    * count, which is the honest way to show sketch error.
    *
    * Scale: this is THE cardinality sketch for 100 TB — the shuffle
    * carries 64 (bucket, max-rank) rows total, and registers merge by
    * max (the rollup shape q126 demonstrates for KMV). */
  def q149HllRegisters(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("o_custkey").cast("string")), 1, 12), 16, 10)
      .cast("long")
    val rank = when(col("w") === 0L, lit(43L))
      .otherwise((lit(43) - length(bin(col("w")))).cast("long"))
    val regs = Tables.orders(s, dir)
      .select(shiftright(h, 42).as("bucket"),
        h.bitwiseAND(lit((1L << 42) - 1)).as("w"))
      .select(col("bucket"), rank.as("rank"))
      .groupBy("bucket").agg(max(col("rank")).as("r"))
    val grid = s.range(64).select(col("id").as("bucket"))
    val agg = grid.join(regs, Seq("bucket"), "left")
      .select(coalesce(col("r"), lit(0L)).as("r"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("r") === 0L, 1L).otherwise(0L)).as("empty_buckets"),
        max(col("r")).as("max_register"),
        sum(pow(lit(0.5), col("r"))).cast("double").as("sum_inv"))
    val exact = Tables.orders(s, dir)
      .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
    agg.crossJoin(exact) // two 1-row aggregates — q07's idiom
      .withColumn("hll_estimate",
        (lit(0.709) * lit(64.0) * lit(64.0) / col("sum_inv")).cast("double"))
      .withColumn("est_ratio",
        (col("hll_estimate") / col("exact_distinct").cast("double"))
          .cast("double"))
      .select("m", "empty_buckets", "max_register", "sum_inv",
        "exact_distinct", "hll_estimate", "est_ratio")
  }

  /** Seasonal anomaly monitor: daily volumes judged against their own
    * DAY-OF-WEEK baseline, the deseasonalized upgrade of q20's global
    * z-score (a Sunday lull is only anomalous vs other Sundays).
    * The anomaly FLAG is decided in exact integer arithmetic —
    * 4·(n·x − Σx)²·(n−1) > 9·n·(n·Σx² − (Σx)²) is |x − μ| > 1.5σ with
    * every division cleared (1.5σ, not 2σ: day-of-week strata have
    * n ≈ 4–5 observations, and a sample z is bounded by √(n−1) — a
    * 2σ gate could mathematically never fire) — so the gate cannot
    * float-drift between engines; μ and z are also emitted as doubles (identical formula
    * both sides) for reporting. Strata with n < 3 observations are
    * excluded (no meaningful variance). Scale shape: two keyed aggs
    * — (type, day) then (type, dow) — and a broadcast-sized join
    * back; nothing global. */
  def q153SeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dow", dayofweek(col("day")))
    val stats = daily.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("sx"),
        sum(col("cnt") * col("cnt")).as("sx2"))
      .filter(col("n") >= 3)
    daily.join(stats, Seq("event_type", "dow"))
      .withColumn("mean_cnt",
        (col("sx").cast("double") / col("n").cast("double")).cast("double"))
      .withColumn("z",
        ((col("cnt").cast("double") - col("mean_cnt")) /
          sqrt((col("n") * col("sx2") - col("sx") * col("sx")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double"))).cast("double"))
      .withColumn("is_anomaly",
        lit(4) * (col("n") * col("cnt") - col("sx")) *
          (col("n") * col("cnt") - col("sx")) * (col("n") - 1) >
          lit(9) * col("n") * (col("n") * col("sx2") - col("sx") * col("sx")))
      .select("event_type", "day", "dow", "cnt", "mean_cnt", "z", "is_anomaly")
      .orderBy("event_type", "day")
  }

  /** Grouped HLL rollup — q149's registers made MERGEABLE, the whole
    * point of the sketch at 100 TB: per-segment register tables and
    * the 'ALL' row obtained by merging them (register-wise MAX, never
    * re-reading the data). Because max-of-maxes equals the global
    * max, the merged estimate is bit-identical to a direct global
    * sketch — the rollup shape q126 demonstrates for KMV, here for
    * HLL. Deterministic for the q149 reasons (dyadic-exact Σ2^−r). */
  def q154HllRollup(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("c_custkey").cast("string")), 1, 12), 16, 10)
      .cast("long")
    val rank = when(col("w") === 0L, lit(43L))
      .otherwise((lit(43) - length(bin(col("w")))).cast("long"))
    val cust = Tables.customer(s, dir)
    val segRegs = cust
      .select(col("c_mktsegment").as("segment"),
        shiftright(h, 42).as("bucket"),
        h.bitwiseAND(lit((1L << 42) - 1)).as("w"))
      .select(col("segment"), col("bucket"), rank.as("rank"))
      .groupBy("segment", "bucket").agg(max(col("rank")).as("r"))
    val merged = segRegs.groupBy("bucket").agg(max(col("r")).as("r"))
      .select(lit("ALL").as("segment"), col("bucket"), col("r"))
    val regs = segRegs.select("segment", "bucket", "r").unionAll(merged)
    val grid = cust.select(col("c_mktsegment").as("segment")).distinct()
      .unionAll(cust.limit(1).select(lit("ALL").as("segment")))
      .select(col("segment"),
        explode(sequence(lit(0L), lit(63L))).as("bucket"))
    val est = grid.join(regs, Seq("segment", "bucket"), "left")
      .select(col("segment"), coalesce(col("r"), lit(0L)).as("r"))
      .groupBy("segment")
      .agg(sum(when(col("r") === 0L, 1L).otherwise(0L)).as("empty_buckets"),
        sum(pow(lit(0.5), col("r"))).cast("double").as("sum_inv"))
      .withColumn("hll_estimate",
        (lit(0.709) * lit(64.0) * lit(64.0) / col("sum_inv")).cast("double"))
    val exact = cust
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(countDistinct(col("c_custkey")).as("exact_distinct"))
      .unionAll(cust.agg(countDistinct(col("c_custkey")).as("ed"))
        .select(lit("ALL").as("segment"), col("ed").as("exact_distinct")))
    est.join(exact, "segment")
      .select(col("segment"), col("empty_buckets"), col("sum_inv"),
        col("exact_distinct"), col("hll_estimate"),
        (col("hll_estimate") / col("exact_distinct").cast("double"))
          .cast("double").as("est_ratio"))
      .orderBy("segment")
  }

  /** The streaming cardinality monitor's BATCH FACE as an oracle row
    * (the ST-parity pattern of q226/q227): per-hour distinct-user
    * estimates through [[graft.streaming.CardinalityStream]] — the
    * SAME registerWindows/estimates code path the stream runs
    * (Spark's unified semantics; CardinalityStreamSpec certifies
    * stream ≡ batch, this row certifies batch ≡ DuckDB), with the
    * exact per-window countDistinct riding along to show sketch
    * error. State story at 100 TB: 64 register rows per hour window
    * vs the unbounded key universe an exact streaming distinct would
    * hold. */
  def q246WindowCardinality(s: SparkSession, dir: String): DataFrame = {
    val est = graft.streaming.CardinalityStream.estimates(
      graft.streaming.CardinalityStream.registerWindows(
        Tables.events(s, dir)
          .select(col("ts"), col("user_id").cast("string").as("key")),
        windowDuration = "1 hour"))
    val exact = Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
      .select(col("window.start").as("window_start"), col("exact_distinct"))
    est.join(exact, Seq("window_start"))
      .select(col("window_start"), col("window_end"), col("buckets_seen"),
        col("sum_inv"), col("hll_estimate"), col("exact_distinct"))
      .orderBy("window_start")
  }

  /** The streaming latency-quantile monitor's BATCH FACE as an
    * oracle row: per-hour p50/p95/p99 of the value column (as
    * integer cents) through [[graft.streaming.HdrQuantileStream]] —
    * the same bucketWindows/quantiles path the stream runs, over the
    * same HDR law q243's native aggregate certifies. Cents via
    * floor(value·100): floor of the SAME IEEE double is identical in
    * both engines (a bare cast would round in DuckDB and truncate in
    * Spark). */
  def q247WindowQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("ts"), floor(col("value") * 100).cast("long").as("v"))
    graft.streaming.HdrQuantileStream.quantiles(
        graft.streaming.HdrQuantileStream.bucketWindows(ev,
          windowDuration = "1 hour"))
      .orderBy("window_start")
  }

  /** q253 — the streaming TOP-K monitor's BATCH FACE as an oracle
    * row (the heavy-hitters corner of the monitor triangle next to
    * q246 cardinality and q247 quantiles): per-hour top-5 keys
    * through [[graft.streaming.TopKStream]]'s Misra–Gries windowed
    * aggregate — the same sketchWindows/topK path the stream runs.
    * At fixture scale every window's distinct keys sit far below the
    * 1024-entry capacity, so no decrement ever fires and the sketch
    * is provably the exact frequency table for any arrival order —
    * that is what lets DuckDB certify the sketch path with a plain
    * GROUP BY. The `distinct_keys` rider documents the margin; past
    * capacity the monitor degrades to the MG guarantee set instead
    * of growing state (TopKStream scaladoc). */
  def q253WindowTopk(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("ts"), col("user_id").cast("string").as("key"))
    val top = graft.streaming.TopKStream.topK(
      graft.streaming.TopKStream.sketchWindows(ev, capacity = 1024), k = 5)
    val exact = Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("distinct_keys"))
      .select(col("window.start").as("window_start"), col("distinct_keys"))
    top.join(exact, Seq("window_start"))
      .select(col("window_start"), col("window_end"),
        col("rk").cast("long").as("rk"), col("item"), col("cnt"),
        col("n_events"), col("distinct_keys"))
      .orderBy("window_start", "rk")
  }

  /** q257 — the streaming SESSIONIZATION's batch face as an oracle
    * row (the dynamic-gap corner of the monitor triangle: q246
    * cardinality, q247 quantiles, q253 top-k are all fixed tumbling
    * windows; sessions are the one window shape whose EXTENT is
    * data-dependent). Runs [[graft.streaming.WindowedAggs.userSessions]]
    * — the exact `session_window` aggregate the stream executes
    * (StreamingIngestSpec pins the watermark-finalization behavior) —
    * in batch over the events table; the DuckDB oracle replays the
    * classic gaps-and-islands formulation (LAG gap flag → running
    * island id → per-island agg), certifying Spark's native session
    * merge ≡ the SQL-textbook definition. Values are summed as
    * integer cents (floor of the same IEEE double — exact
    * cross-engine); session_end = last event + gap by session_window
    * semantics. */
  def q257SessionPanel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("ts").as("event_ts"), col("user_id"),
      floor(col("value") * 100).cast("long").as("value"))
    graft.streaming.WindowedAggs.userSessions(ev, gap = "30 minutes")
      .orderBy("user_id", "session_start")
  }

  /** q259 — exact per-group TOP-K through the native bounded-heap
    * aggregate (`graft_topk`, plans/TopKAgg): top-3 orders by price
    * within each priority, riding the SAME hash-aggregate pass as the
    * group's row count — the composability a window-rank top-k can't
    * give (it needs its own sorted pass joined back). The order is
    * total (cents DESC, zero-padded orderkey ASC), so the aggregate
    * is partition-invariant outright and the DuckDB oracle is the
    * plain ROW_NUMBER formulation. State is O(k) per group; no sort
    * at any stage. */
  def q259GroupedTopk(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderpriority"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"),
      lpad(col("o_orderkey").cast("string"), 12, "0").as("okey"))
    o.groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        call_function("graft_topk", col("cents"), col("okey"), lit(3)).as("top"))
      .select(col("o_orderpriority"), col("n_orders"),
        posexplode(col("top")))
      .select(col("o_orderpriority"), col("n_orders"),
        (col("pos") + 1).cast("int").as("rk"),
        col("col.score").as("price_cents"),
        col("col.payload").as("o_orderkey_pad"))
      .orderBy("o_orderpriority", "rk")
  }

  /** TRAILING-window z-score gate — the reference's actual 14-day
    * volume monitor shape (pipeline_observability.py's z > 3 over a
    * 14-day history), upgraded from q20's all-history baseline: each
    * day is judged against the 14 days STRICTLY BEFORE it (RANGE
    * −14..−1 on the day ordinal, keyed by event_type — no global
    * window), so the gate adapts to drift and never peeks at the
    * day it is judging. Baseline moments are integer window sums;
    * the 3σ flag is the exact-integer clearing
    * (n·x − Σx)²·(n−1) > 9·n·(nΣx² − (Σx)²); z is NULL when the
    * baseline variance is 0 (a 0/0 NaN would be engine-dependent);
    * days with fewer than 3 baseline days are excluded. */
  def q162TrailingZ(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("ord", datediff(col("day"), lit("2024-01-01").cast("date")))
    val w = Window.partitionBy("event_type").orderBy("ord").rangeBetween(-14, -1)
    daily
      .withColumn("n", count(col("cnt")).over(w))
      .withColumn("sx", sum(col("cnt")).over(w))
      .withColumn("sx2", sum(col("cnt") * col("cnt")).over(w))
      .filter(col("n") >= 3)
      .withColumn("mean_cnt",
        (col("sx").cast("double") / col("n").cast("double")).cast("double"))
      .withColumn("z",
        when(col("n") * col("sx2") - col("sx") * col("sx") > 0,
          ((col("cnt").cast("double") - col("mean_cnt")) /
            sqrt((col("n") * col("sx2") - col("sx") * col("sx")).cast("double") /
              (col("n") * (col("n") - 1)).cast("double"))).cast("double"))
          .otherwise(lit(null).cast("double")))
      .withColumn("is_anomaly",
        (col("n") * col("cnt") - col("sx")) * (col("n") * col("cnt") - col("sx")) *
          (col("n") - 1) > lit(9) * col("n") *
          (col("n") * col("sx2") - col("sx") * col("sx")))
      .select("event_type", "day", "cnt", "n", "mean_cnt", "z", "is_anomaly")
      .orderBy("event_type", "day")
  }

  /** Poisson bootstrap 95% CI for the mean event value — THE
    * distributed bootstrap (each row draws its replicate weight
    * independently as Poisson(1), so no global multinomial
    * coordination is needed; Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams"). Made deterministic: the uniform is a
    * 48-bit md5 slice of (event_id, replicate), mapped through a
    * 6-dp-literal Poisson(1) inverse-CDF ladder; each replicate mean
    * is an EXACT integer pair (Σw·cents, Σw) with one double
    * division, and the CI is nearest-rank selection over the 40
    * sorted replicate means. One scan fanned out ×40 by an explode
    * (not a join), 40 aggregation groups, driver-sized tail. */
  def q165BootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val rep = ev.select(col("event_id"), col("cents"),
      explode(sequence(lit(0), lit(39))).as("rep"))
    val u = conv(substring(md5(concat_ws("|", col("event_id"), col("rep"))),
      1, 12), 16, 10).cast("long").cast("double") / lit(281474976710656.0)
    val w = when(u < 0.367879, 0).when(u < 0.735759, 1)
      .when(u < 0.919699, 2).when(u < 0.981012, 3)
      .when(u < 0.996340, 4).when(u < 0.999406, 5).otherwise(6)
    val means = rep.select(col("rep"), col("cents"), w.as("w"))
      .groupBy("rep")
      .agg(sum(col("w") * col("cents")).as("wx"), sum(col("w")).as("wsum"))
      .select((col("wx").cast("double") /
        (col("wsum") * 100).cast("double")).as("mean_b"))
      .agg(sort_array(collect_list(col("mean_b"))).as("ms"))
    val point = ev.agg(count(lit(1)).as("n_rows"),
      (sum(col("cents")).cast("double") /
        (count(lit(1)) * 100).cast("double")).as("point_mean"))
    point.crossJoin(means) // two 1-row aggregates — q07's idiom
      .select(col("n_rows"), col("point_mean"),
        size(col("ms")).as("n_replicates"),
        element_at(col("ms"), 1).as("ci_low"),
        element_at(col("ms"), 39).as("ci_high"))
  }

  /** Two-proportion A/B z-test on conversion (user made ≥ 15
    * purchases — "has any purchase" is degenerate in this corpus:
    * every user has one, pooled p = 1, variance 0),
    * arms = user_id parity: the experiment-analysis member of the
    * statistics family (q137 χ², q165 bootstrap). The whole test is
    * ONE user-level aggregate folded to a single row by conditional
    * sums — no cross join, no second scan. z uses the pooled-variance
    * formula written identically in the oracle; the 2σ significance
    * flag clears every denominator into exact integers:
    * (c₁n₂ − c₂n₁)²·N > 4·C·(N−C)·n₁·n₂  ⟺  z² > 4; z itself is
    * NULL when the pooled variance is 0 (all or none converted). */
  def q168AbTest(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= 15, 1L).otherwise(0L).as("converted"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    val a = users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("conv_b"))
    val n = col("n_a") + col("n_b")
    val c = col("conv_a") + col("conv_b")
    val pPool = c.cast("double") / n.cast("double")
    a.withColumn("rate_a",
        (col("conv_a").cast("double") / col("n_a").cast("double")).cast("double"))
      .withColumn("rate_b",
        (col("conv_b").cast("double") / col("n_b").cast("double")).cast("double"))
      .withColumn("z",
        when(c > 0 && c < n,
          ((col("rate_a") - col("rate_b")) /
            sqrt(pPool * (lit(1.0) - pPool) *
              (lit(1.0) / col("n_a").cast("double") +
                lit(1.0) / col("n_b").cast("double")))).cast("double"))
          .otherwise(lit(null).cast("double")))
      .withColumn("significant_2sigma",
        (col("conv_a") * col("n_b") - col("conv_b") * col("n_a")) *
          (col("conv_a") * col("n_b") - col("conv_b") * col("n_a")) * n >
          lit(4L) * c * (n - c) * col("n_a") * col("n_b"))
  }

  /** CUSUM change-point monitor (Page's cumulative-sum test): per
    * user, fold daily event counts in day order through
    * S_i = max(0, S_{i-1} + x_i − k) with allowance k = 3, flagging
    * days where S ≥ h = 5 — the sequential drift detector next to
    * q20's batch z-score and q106's EWMA. Integer state end-to-end
    * (counts and allowance are BIGINTs), so both engines' folds agree
    * exactly with no float tolerance. The per-day series is
    * re-derived per index by prefix folds (q106's oracle idiom, now
    * on both sides): quadratic in n_days, but n_days is bounded by
    * the CALENDAR span, not the data volume — at 100 TB the shape is
    * still two keyed aggs plus scan-speed array work. */
  def q148Cusum(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val arr = daily.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("day"), col("cnt")))).as("a"))
    val ser = arr.select(col("user_id"),
        transform(col("a"), x => x.getField("day")).as("ds"),
        transform(sequence(lit(1), size(col("a"))), i =>
          aggregate(
            slice(transform(col("a"), x => x.getField("cnt")), lit(1), i),
            lit(0L),
            (acc, x) => greatest(lit(0L), acc + x - lit(3L)))).as("series"))
    val alarmIdx = filter(sequence(lit(1), size(col("series"))),
      i => element_at(col("series"), i) >= lit(5L))
    ser.select(col("user_id"),
        size(col("series")).as("n_days"),
        array_max(col("series")).as("cusum_max"),
        size(filter(col("series"), v => v >= lit(5L))).as("alarm_days"),
        // formatted string, not DATE: a NULL date canonicalizes as
        // NaT on the oracle side but None here (q66's precedent)
        when(size(alarmIdx) > 0,
          date_format(element_at(col("ds"), element_at(alarmIdx, 1)),
            "yyyy-MM-dd"))
          .otherwise(lit(null).cast("string")).as("first_alarm_day"))
      .orderBy("user_id")
  }

  /** Shared per-user activity aggregation — sa = total events, sb =
    * purchase count; the "converted" label is sb ≥ 15 (q168's
    * metric). One definition feeds q171/q177/q178/q180 so the
    * threshold and grouping cannot drift between the statistics. */
  private def userActivity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("sa"),
        countIf(col("event_type") === "purchase").as("sb"))

  /** Exact ROC-AUC (≡ Mann–Whitney U, tie-corrected) of "activity
    * predicts conversion": per-user score = event count, label =
    * ≥ 15 purchases (q168's metric). The naive formulation ranks all
    * users through one global sort window; here AUC is computed from
    * the per-distinct-score histogram — group by score (keyed
    * shuffle, |distinct scores| rows), distributed prefix sum of
    * positives in score order ([[graft.operators.PrefixSum]], no
    * single-task window), then one commutative integer aggregation
    * over the DIScordant direction (positives at or below each
    * negative), subtracted from the pair total:
    *   2·U = 2·n_pos·n_neg − Σ_s neg_s · (2·cumpos_{≤s} − pos_s)
    * which handles ties exactly (each tied pair contributes ½ —
    * RankStatsSpec pins this against all-pairs brute force; the
    * first cut summed the wrong direction and the oracle could not
    * see it, since both engines shared the formula). All integer
    * until the two final divisions, so the oracle hash is exact:
    * auc_bp by integer division, auc by one double division written
    * identically in both engines. */
  def q171Auc(s: SparkSession, dir: String): DataFrame = {
    val users = userActivity(s, dir)
      .select(col("sa").as("score"),
        when(col("sb") >= 15, 1).otherwise(0).as("label"))
    val byScore = users.groupBy(col("score"))
      .agg(countIf(col("label") === 1).as("pos"),
        countIf(col("label") === 0).as("neg"))
    val cum = graft.operators.PrefixSum
      .withRunningSum(byScore, "score", "pos", "cum_pos")
    cum.agg(
        sum(col("pos")).as("n_pos"),
        sum(col("neg")).as("n_neg"),
        sum(col("neg") * (col("cum_pos") * 2 - col("pos"))).as("d2"))
      .select(col("n_pos"), col("n_neg"),
        expr("2 * n_pos * n_neg - d2").as("u_stat_x2"))
      .select(col("n_pos"), col("n_neg"), col("u_stat_x2"),
        expr("u_stat_x2 * 5000 DIV (n_pos * n_neg)").as("auc_bp"),
        (col("u_stat_x2").cast("double") /
          (col("n_pos").cast("double") * col("n_neg").cast("double") * 2.0))
          .as("auc"))
  }

  /** Exact Gini coefficient of per-customer revenue concentration —
    * the Lorenz-curve statistic a curation pipeline uses to audit
    * how skewed a source mix is. Same scale shape as q171: revenue
    * is exact integer cents (per-row DECIMAL→cents BEFORE the sum,
    * q157's lesson), grouped by distinct cents value, positives
    * prefix-summed distributedly, and the rank-weighted sum uses the
    * tie-invariant closed form (ranks r+1..r+cnt for a tied block):
    *   2·S1 = Σ_v cents_v · (2·cnt_v·r_v + cnt_v·(cnt_v+1)),
    *   Gini = (2·S1 − (n+1)·T) / (n·T).
    * The basis-point step runs in DECIMAL(38,0) (it exceeds 2⁶³
    * already at sf0.1); the three sums stay BIGINT, which holds to
    * ~sf10 (S1 ≲ n²·maxcents) — beyond that they upgrade to
    * DECIMAL(38,0) with the same plan. */
  def q172Gini(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("cents"))
    val byV = cust.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
    val cum = graft.operators.PrefixSum
      .withRunningSum(byV, "cents", "cnt", "cum_cnt")
    cum.agg(
        sum(col("cnt")).as("n"),
        sum(col("cents") * col("cnt")).as("total_cents"),
        sum(col("cents") *
          (col("cnt") * (col("cum_cnt") - col("cnt")) * 2 +
            col("cnt") * (col("cnt") + 1))).as("s1_x2"))
      .select(col("n"), col("total_cents"),
        // the ×10000 pushes past 9.2e18 already at sf0.1, so the
        // basis-point arithmetic runs in DECIMAL(38,0) (HUGEINT on
        // the oracle side); the three sums themselves stay BIGINT
        expr("""CAST((CAST(s1_x2 AS DECIMAL(38,0))
                 - (CAST(n AS DECIMAL(38,0)) + 1)
                   * CAST(total_cents AS DECIMAL(38,0))) * 10000
                DIV (CAST(n AS DECIMAL(38,0))
                     * CAST(total_cents AS DECIMAL(38,0)))
                AS BIGINT)""").as("gini_bp"),
        ((col("s1_x2").cast("double") -
          (col("n") + 1).cast("double") * col("total_cents").cast("double")) /
          (col("n").cast("double") * col("total_cents").cast("double")))
          .as("gini"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test: each language's
    * document-length distribution against the English reference —
    * the distribution-shift monitor a curation pipeline runs per
    * source before mixing. Exact: both ECDFs are step functions with
    * jumps only at pooled distinct lengths, so the sup is attained
    * at an inclusive evaluation over the value grid, and the
    * statistic is kept as the cross-multiplied integer
    *   ks_num = max_v |cum_l(v)·n_ref − cum_ref(v)·n_l|
    * with one final double division. Scale shape: one doc-scan
    * groupBy (lang, length), then everything runs on the
    * (|distinct lengths| × |langs|) grid — bounded by the length
    * domain, not the corpus — with per-lang cumulative counts from a
    * LANG-KEYED window (no unpartitioned sort anywhere). */
  def q175KsDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    val values = counts.select("n_chars").distinct()
    val langs = counts.select("lang").distinct()
    val grid = values.crossJoin(broadcast(langs))
      .join(counts, Seq("lang", "n_chars"), "left")
      .na.fill(0L, Seq("cnt"))
    val w = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n_lang",
        sum(col("cnt")).over(Window.partitionBy("lang")))
    val ref = cum.filter(col("lang") === "en")
      .select(col("n_chars"), col("cum").as("cum_ref"),
        col("n_lang").as("n_ref"))
    cum.filter(col("lang") =!= "en")
      .join(ref, "n_chars")
      .groupBy(col("lang"))
      .agg(max(col("n_lang")).as("n_lang"), max(col("n_ref")).as("n_ref"),
        max(abs(col("cum") * col("n_ref") - col("cum_ref") * col("n_lang")))
          .as("ks_num"))
      .select(col("lang"), col("n_lang"), col("n_ref"), col("ks_num"),
        (col("ks_num").cast("double") /
          (col("n_lang").cast("double") * col("n_ref").cast("double")))
          .as("ks"))
      .orderBy("lang")
  }

  /** Isotonic (monotone) calibration of conversion probability
    * against activity score — PAV's output computed through the
    * closed minimax form, which is join/window-shaped instead of a
    * sequential pool-merge loop:
    *   f_i = max_{j≤i} min_{k≥i} avg(y over scores j..k).
    * Everything runs on the ≤|distinct scores| aggregate (49 rows
    * here): the j≤k interval grid is the bounded quadratic, interval
    * means come from integer prefix sums (one double division each),
    * the inner min is a j-KEYED suffix-min window, the outer max one
    * keyed agg. The two index/prefix windows run unpartitioned over
    * the driver-sized score aggregate (q25's allowlisted idiom).
    * IsotonicSpec pins the result against an independent sequential
    * PAV loop — same defence as RankStatsSpec. */
  def q177Isotonic(s: SparkSession, dir: String): DataFrame = {
    val users = userActivity(s, dir)
      .select(col("sa").as("score"),
        when(col("sb") >= 15, 1L).otherwise(0L).as("label"))
    val byScore = users.groupBy("score")
      .agg(count(lit(1)).as("w"), sum(col("label")).as("ysum"))
    val wi = Window.orderBy("score")
    val idx = byScore
      .withColumn("i", row_number().over(wi))
      .withColumn("cum_s", sum(col("ysum")).over(wi))
      .withColumn("cum_w", sum(col("w")).over(wi))
      .withColumn("prev_s", col("cum_s") - col("ysum"))
      .withColumn("prev_w", col("cum_w") - col("w"))
    val j = idx.select(col("i").as("j"), col("prev_s"), col("prev_w"))
    val k = idx.select(col("i").as("k"), col("cum_s"), col("cum_w"))
    val grid = j.crossJoin(k).filter(col("j") <= col("k"))
      .withColumn("a",
        (col("cum_s") - col("prev_s")).cast("double") /
          (col("cum_w") - col("prev_w")).cast("double"))
    val suff = Window.partitionBy("j").orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fitted = grid
      .withColumn("m", min(col("a")).over(suff))
      .groupBy(col("k").as("i"))
      .agg(max(col("m")).as("fitted"))
    idx.join(fitted, "i")
      .select(col("score"), col("w"), col("ysum"),
        (col("ysum").cast("double") / col("w").cast("double")).as("rate"),
        col("fitted").cast("double").as("fitted"))
      .orderBy("score")
  }

  /** Exact Spearman rank correlation between per-user activity and
    * purchase count — monotone-association monitoring without a
    * global sort. Tie-averaged ranks come from each variable's
    * score-HISTOGRAM: rank2(v) = 2·cum_below(v) + cnt(v) + 1 (twice
    * the average rank, so ranks stay integer), with the cumulative
    * from the distributed prefix sum; users pick their ranks up via
    * two value-keyed joins, and ρ is Pearson on the integer 2×ranks
    * — five integer sums, exact until the final double expression.
    * Long arithmetic holds while 4n³ < 2⁶³ (n ≲ 10⁶ users); past
    * that the moment sums upgrade to DECIMAL(38,0), same plan. */
  def q178Spearman(s: SparkSession, dir: String): DataFrame = {
    // read by BOTH rank2 funnels and the final join: persist, or the
    // events scan+agg runs three times (q135's lesson)
    val users = userActivity(s, dir).persist()
    def rank2(valCol: String): DataFrame = {
      val h = users.groupBy(col(valCol)).agg(count(lit(1)).as("cnt"))
      graft.operators.PrefixSum.withRunningSum(h, valCol, "cnt", "cum")
        .select(col(valCol),
          (col("cum") * 2 - col("cnt") * 2 + col("cnt") + 1)
            .as(s"r2_$valCol"))
    }
    val ranked = users
      .join(rank2("sa"), "sa")
      .join(rank2("sb"), "sb")
    ranked.agg(
        count(lit(1)).as("n"),
        sum(col("r2_sa")).as("sx"), sum(col("r2_sb")).as("sy"),
        sum(col("r2_sa") * col("r2_sa")).as("sxx"),
        sum(col("r2_sb") * col("r2_sb")).as("syy"),
        sum(col("r2_sa") * col("r2_sb")).as("sxy"))
      .select(col("n"),
        expr("n * sxy - sx * sy").as("cov_num"),
        expr("n * sxx - sx * sx").as("var_x"),
        expr("n * syy - sy * sy").as("var_y"))
      .withColumn("rho",
        col("cov_num").cast("double") /
          (sqrt(col("var_x").cast("double")) *
            sqrt(col("var_y").cast("double"))))
  }

  /** Kendall τ-b between per-user activity and purchase count — the
    * concordance twin of q178's Spearman. All pair counting runs on
    * the JOINT (sa, sb) cell histogram: concordant/discordant sums
    * are a cell-grid self-join (bounded by the two score domains,
    * ~49×25 cells — post-aggregation quadratic, q137's idiom) and
    * the tie corrections come from the two marginal histograms.
    * Exact integers through τ's numerator and both tie-corrected
    * denominator factors; the final expression sqrt-separates the
    * two factors (their product is ~n⁴/4 — int64 dies near 80k
    * users; the factors alone hold to n0 < 2⁶³). */
  def q180KendallTau(s: SparkSession, dir: String): DataFrame = {
    val users = userActivity(s, dir)
    val cells = users.groupBy("sa", "sb").agg(count(lit(1)).as("nc"))
    val c1 = cells.select(col("sa").as("a1"), col("sb").as("b1"),
      col("nc").as("n1"))
    val c2 = cells.select(col("sa").as("a2"), col("sb").as("b2"),
      col("nc").as("n2"))
    val pairs = c1.join(c2, col("a1") < col("a2"))
    val cd = pairs.agg(
      sum(when(col("b1") < col("b2"), col("n1") * col("n2"))
        .otherwise(0L)).as("concordant"),
      sum(when(col("b1") > col("b2"), col("n1") * col("n2"))
        .otherwise(0L)).as("discordant"))
    val ta = cells.groupBy("sa").agg(sum(col("nc")).as("t"))
      .agg(sum(expr("t * (t - 1) DIV 2")).as("ties_a"),
        sum(col("t")).as("n"))
    val tb = cells.groupBy("sb").agg(sum(col("nc")).as("t"))
      .agg(sum(expr("t * (t - 1) DIV 2")).as("ties_b"))
    cd.crossJoin(ta).crossJoin(tb)
      .withColumn("n0", expr("n * (n - 1) DIV 2"))
      .select(col("n"), col("concordant"), col("discordant"),
        col("ties_a"), col("ties_b"),
        // sqrt-separated (q183's discipline): the factor PRODUCT is
        // ~n^4/4 and overflows int64 near 80k users; the factors
        // alone hold to n0 < 2^63
        ((col("concordant") - col("discordant")).cast("double") /
          (sqrt((col("n0") - col("ties_a")).cast("double")) *
            sqrt((col("n0") - col("ties_b")).cast("double")))).as("tau_b"))
  }

  /** Robust means per event type: 10%-two-sided TRIMMED mean (drop
    * the tail ranks) and WINSORIZED mean (clamp tails to the cut
    * values) next to the plain mean — the robust-location family
    * beside q134's MAD outliers. Ranks are KEYED windows (ordered by
    * value with event_id tie-break, so both engines rank
    * identically); every sum runs over DECIMAL(18,6)-rounded values,
    * which makes the aggregation order-independent — a raw double
    * sum over 30k values can hash-diverge between engines. The
    * winsorized clamp values fall out of two conditional aggregates
    * (value at rank k+1 and rank n−k), no second pass. */
  def q204RobustMeans(s: SparkSession, dir: String): DataFrame = {
    // rank by the DECIMAL value (event_id tie-break): decimal order is
    // total and engine-identical, sidestepping double-comparison ties
    val w = Window.partitionBy("event_type")
      .orderBy(col("v"), col("event_id"))
    val v = col("value").cast(DecimalType(18, 6))
    val ranked = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), v.as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("k", floor(col("n") * 0.1).cast("long"))
    ranked.groupBy("event_type")
      .agg(
        max(col("n")).as("n"),
        round(sum(col("v")).cast("double") / max(col("n")), 6).as("mean"),
        round(sum(when(col("rn") > col("k") && col("rn") <= col("n") - col("k"),
            col("v"))).cast("double") /
          (max(col("n")) - lit(2) * max(col("k"))), 6).as("trimmed_mean_10"),
        round((sum(when(col("rn") > col("k") && col("rn") <= col("n") - col("k"),
            col("v"))) +
          max(col("k")) * min(when(col("rn") === col("k") + 1, col("v"))) +
          max(col("k")) * max(when(col("rn") === col("n") - col("k"), col("v"))))
          .cast("double") / max(col("n")), 6).as("winsor_mean_10"))
      .orderBy("event_type")
  }

  /** Mann-Whitney U rank-sum test (Mann & Whitney 1947), purchase vs
    * view values — the nonparametric complement to q168's Welch AB
    * test and q175's KS drift. EXACT until the final z: ranking
    * happens on the value-aggregated cell table (one row per distinct
    * decimal value with per-group counts), midranks are kept as
    * 2×midrank = 2·cum_before + t + 1 so ties never produce
    * fractions, and U is reported as u2_a = 2·U_A (integer). The
    * cumulative window runs over the ~3k distinct-value cells —
    * value-domain-bounded, post-aggregation (the q177 idiom), never
    * the event stream. z uses the standard tie-corrected variance;
    * doubles appear only there, rounded to 6 dp.
    */
  def q206MannWhitney(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .where(col("event_type").isin("purchase", "view"))
      .select(col("event_type"), col("value").cast(DecimalType(18, 6)).as("v"))
    val cells = ev.groupBy("v").agg(
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("na_v"),
      count(lit(1)).as("n_v"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val agg = cells
      .withColumn("cum_before", coalesce(sum(col("n_v")).over(w), lit(0L)))
      .agg(
        sum(col("na_v")).as("n_a"),
        sum(col("n_v") - col("na_v")).as("n_b"),
        sum(col("na_v") * (lit(2) * col("cum_before") + col("n_v") + 1)).as("r2a"),
        sum(col("n_v") * col("n_v") * col("n_v") - col("n_v")).as("tie_term"))
    agg.select(
        col("n_a"), col("n_b"),
        (col("r2a") - col("n_a") * (col("n_a") + 1)).as("u2_a"),
        col("tie_term"),
        round(
          ((col("r2a") - col("n_a") * (col("n_a") + 1) -
            col("n_a") * col("n_b")).cast("double") / lit(2.0)) /
          sqrt(col("n_a").cast("double") * col("n_b") / lit(12.0) *
            ((col("n_a") + col("n_b")) + lit(1.0) -
              col("tie_term").cast("double") /
                ((col("n_a") + col("n_b")).cast("double") *
                  ((col("n_a") + col("n_b")) - lit(1.0))))), 6).as("z"))
      .withColumn("significant_95", abs(col("z")) > 1.96)
  }

  /** Kaplan-Meier product-limit survival curve (Kaplan & Meier 1958)
    * over user activity lifetimes: duration = last−first active day,
    * churned if inactive for the final 3 days of the window (else
    * right-censored). The survival product Π(1 − d/n) is carried as
    * a CUMULATIVE DECIMAL SUM of 6-dp-rounded ln steps (the q133
    * discipline — exact, order-independent) and exponentiated once
    * per row; a cell where every at-risk user dies takes a −20
    * ln-floor sentinel (exp ≈ 2e-9 → S rounds to 0) rather than
    * ln(0). Both windows run over the ~30 distinct-duration cells —
    * duration-domain-bounded, post-aggregation; the at-risk count is
    * total − cumulative-before, never a per-user window.
    */
  def q207KaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val span = ev.groupBy("user_id").agg(min("d").as("first_d"), max("d").as("last_d"))
    val users = span.crossJoin(ev.agg(max("d").as("obs_end")))
      .withColumn("duration", datediff(col("last_d"), col("first_d")))
      .withColumn("churned", datediff(col("obs_end"), col("last_d")) > 3)
    val cells = users.groupBy("duration").agg(
      count(lit(1)).as("n_t"),
      sum(when(col("churned"), 1L).otherwise(0L)).as("d_t"))
    val wBefore = Window.orderBy("duration")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wThrough = Window.orderBy("duration")
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("cum_before", coalesce(sum(col("n_t")).over(wBefore), lit(0L)))
      .crossJoin(users.agg(count(lit(1)).as("total")))
      .withColumn("n_risk", col("total") - col("cum_before"))
      .withColumn("logstep",
        when(col("d_t") === col("n_risk"), lit(-20.0))
          .when(col("d_t") > 0,
            round(log((col("n_risk") - col("d_t")).cast("double") /
              col("n_risk")), 6))
          .otherwise(lit(0.0)).cast(DecimalType(18, 6)))
      .withColumn("cumlog", sum(col("logstep")).over(wThrough))
      .select(col("duration"), col("n_risk"), col("d_t").as("events"),
        (col("n_t") - col("d_t")).as("censored"),
        round(exp(col("cumlog").cast("double")), 6).as("s_hat"))
      .orderBy("duration")
  }

  val queries: Map[String, Q] = Map(
    "q206_mann_whitney" -> q206MannWhitney _,
    "q207_kaplan_meier" -> q207KaplanMeier _,
    "q204_robust_means" -> q204RobustMeans _,
    "q180_kendall_tau" -> q180KendallTau _,
    "q178_spearman" -> q178Spearman _,
    "q177_isotonic" -> q177Isotonic _,
    "q175_ks_drift" -> q175KsDrift _,
    "q190_source_divergence" -> q190SourceDivergence _,
    "q191_cramers_v" -> q191CramersV _,
    "q171_auc" -> q171Auc _,
    "q172_gini" -> q172Gini _,
    "q148_cusum" -> q148Cusum _,
    "q149_hll_registers" -> q149HllRegisters _,
    "q153_seasonal_anomaly" -> q153SeasonalAnomaly _,
    "q154_hll_rollup" -> q154HllRollup _,
    "q162_trailing_z" -> q162TrailingZ _,
    "q165_bootstrap_ci" -> q165BootstrapCi _,
    "q168_ab_test" -> q168AbTest _,
    "q144_stickiness" -> q144Stickiness _,
    "q145_benford" -> q145Benford _,
    "q134_mad_outliers" -> q134MadOutliers _,
    "q137_chi_square" -> q137ChiSquare _,
    "q138_equidepth_hist" -> q138EquiDepthHist _,
    "q139_trend_line" -> q139TrendLine _,
    "q140_weighted_median" -> q140WeightedMedian _,
    "q126_sketch_rollup" -> q126SketchRollup _,
    "q128_exact_median" -> q128ExactMedian _,
    "q129_grouped_pct_funnel" -> q129GroupedPercentiles _,
    "q17_conditional_agg" -> q17ConditionalAgg _,
    "q76_kmv_distinct" -> q76KmvDistinct _,
    "q82_kmv_overlap" -> q82KmvOverlap _,
    "q85_sample_quantiles" -> q85SampleQuantiles _,
    "q243_hdr_quantiles" -> q243HdrQuantiles _,
    "q246_window_cardinality" -> q246WindowCardinality _,
    "q247_window_quantiles" -> q247WindowQuantiles _,
    "q253_window_topk" -> q253WindowTopk _,
    "q257_session_panel" -> q257SessionPanel _,
    "q259_grouped_topk" -> q259GroupedTopk _,
    "q18_worst_status" -> q18WorstStatus _,
    "q20_zscore_anomaly" -> q20ZscoreAnomaly _,
    "q21_null_rates" -> q21NullRates _,
    "q22_cardinality" -> q22Cardinality _,
    "q23_percentiles" -> q23Percentiles _,
    "q24_uniqueness" -> q24Uniqueness _,
    "q28_range_gates" -> q28RangeGates _,
    "q31_top_revenue" -> q31TopRevenue _,
  )

  /** DuckDB replication of kmvEst over a list-of-hex column. */
  private def kmvEstSql(l: String): String =
    s"""CASE WHEN len($l) < 256 THEN CAST(len($l) AS DOUBLE)
       |  ELSE 255.0 / (CAST(CAST('0x' || substr($l[256], 1, 12) AS BIGINT) AS DOUBLE)
       |                / 281474976710656.0) END""".stripMargin

  val oracles: Map[String, String] = Map(
    "q207_kaplan_meier" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |span AS (
        |  SELECT user_id, MIN(d) AS first_d, MAX(d) AS last_d
        |  FROM ev GROUP BY 1),
        |obs AS (SELECT MAX(d) AS obs_end FROM ev),
        |users AS (
        |  SELECT user_id,
        |    CAST(datediff('day', first_d, last_d) AS INTEGER) AS duration,
        |    datediff('day', last_d, obs_end) > 3 AS churned
        |  FROM span CROSS JOIN obs),
        |cells AS (
        |  SELECT duration, COUNT(*) AS n_t,
        |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d_t
        |  FROM users GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS total FROM users),
        |risk AS (
        |  SELECT duration, n_t, d_t,
        |    CAST(total - COALESCE(SUM(n_t) OVER (ORDER BY duration
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM cells CROSS JOIN tot),
        |steps AS (
        |  SELECT duration, n_t, d_t, n_risk,
        |    CAST(CASE WHEN d_t = n_risk THEN -20.0
        |      WHEN d_t > 0 THEN round(ln(CAST(n_risk - d_t AS DOUBLE) / n_risk), 6)
        |      ELSE 0.0 END AS DECIMAL(18,6)) AS logstep
        |  FROM risk),
        |cum AS (
        |  SELECT duration, n_risk, d_t, n_t - d_t AS censored,
        |    SUM(logstep) OVER (ORDER BY duration
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumlog
        |  FROM steps)
        |SELECT duration, n_risk, d_t AS events, censored,
        |  round(exp(CAST(cumlog AS DOUBLE)), 6) AS s_hat
        |FROM cum ORDER BY duration""".stripMargin,
    "q206_mann_whitney" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |cells AS (
        |  SELECT v,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
        |    COUNT(*) AS n_v
        |  FROM ev GROUP BY 1),
        |ranked AS (
        |  SELECT *, COALESCE(SUM(n_v) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM cells),
        |agg AS (
        |  SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
        |    CAST(SUM(n_v - na_v) AS BIGINT) AS n_b,
        |    CAST(SUM(na_v * (2 * cum_before + n_v + 1)) AS BIGINT) AS r2a,
        |    CAST(SUM(n_v * n_v * n_v - n_v) AS BIGINT) AS tie_term
        |  FROM ranked)
        |SELECT n_a, n_b,
        |  CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
        |  tie_term,
        |  round((CAST(r2a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE) / 2.0) /
        |    sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0 *
        |      ((n_a + n_b) + 1.0 - CAST(tie_term AS DOUBLE) /
        |        (CAST(n_a + n_b AS DOUBLE) * ((n_a + n_b) - 1.0)))), 6) AS z,
        |  abs(round((CAST(r2a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE) / 2.0) /
        |    sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0 *
        |      ((n_a + n_b) + 1.0 - CAST(tie_term AS DOUBLE) /
        |        (CAST(n_a + n_b AS DOUBLE) * ((n_a + n_b) - 1.0)))), 6)) > 1.96
        |    AS significant_95
        |FROM agg""".stripMargin,
    "q204_robust_means" ->
      """WITH ranked AS (
        |  SELECT event_type, event_id,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY CAST(round(value, 6) AS DECIMAL(18,6)), event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |k AS (SELECT *, CAST(floor(n * 0.1) AS BIGINT) AS k FROM ranked)
        |SELECT event_type,
        |  MAX(n) AS n,
        |  round(CAST(SUM(v) AS DOUBLE) / MAX(n), 6) AS mean,
        |  round(CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN v END) AS DOUBLE)
        |    / (MAX(n) - 2 * MAX(k)), 6) AS trimmed_mean_10,
        |  round(CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN v END)
        |    + MAX(k) * MIN(CASE WHEN rn = k + 1 THEN v END)
        |    + MAX(k) * MAX(CASE WHEN rn = n - k THEN v END) AS DOUBLE)
        |    / MAX(n), 6) AS winsor_mean_10
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q180_kendall_tau" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS sa,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS sb
        |  FROM events GROUP BY 1),
        |cells AS (SELECT sa, sb, COUNT(*) AS nc FROM u GROUP BY 1, 2),
        |cd AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN c1.sb < c2.sb THEN c1.nc * c2.nc
        |      ELSE 0 END) AS BIGINT) AS concordant,
        |    CAST(SUM(CASE WHEN c1.sb > c2.sb THEN c1.nc * c2.nc
        |      ELSE 0 END) AS BIGINT) AS discordant
        |  FROM cells c1 JOIN cells c2 ON c1.sa < c2.sa),
        |ta AS (
        |  SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS ties_a,
        |    CAST(SUM(t) AS BIGINT) AS n
        |  FROM (SELECT SUM(nc) AS t FROM cells GROUP BY sa)),
        |tb AS (
        |  SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS ties_b
        |  FROM (SELECT SUM(nc) AS t FROM cells GROUP BY sb))
        |SELECT n, concordant, discordant, ties_a, ties_b,
        |  CAST(CAST(concordant - discordant AS DOUBLE)
        |    / (sqrt(CAST(n * (n - 1) // 2 - ties_a AS DOUBLE))
        |       * sqrt(CAST(n * (n - 1) // 2 - ties_b AS DOUBLE)))
        |    AS DOUBLE) AS tau_b
        |FROM cd, ta, tb""".stripMargin,
    "q178_spearman" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS sa,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS sb
        |  FROM events GROUP BY 1),
        |ha AS (SELECT sa, COUNT(*) AS cnt FROM u GROUP BY 1),
        |ra AS (
        |  SELECT sa, 2 * SUM(cnt) OVER (ORDER BY sa) - 2 * cnt + cnt + 1
        |    AS r2_sa
        |  FROM ha),
        |hb AS (SELECT sb, COUNT(*) AS cnt FROM u GROUP BY 1),
        |rb AS (
        |  SELECT sb, 2 * SUM(cnt) OVER (ORDER BY sb) - 2 * cnt + cnt + 1
        |    AS r2_sb
        |  FROM hb),
        |j AS (
        |  SELECT r2_sa, r2_sb FROM u
        |  JOIN ra USING (sa) JOIN rb USING (sb)),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r2_sa) AS BIGINT) AS sx,
        |    CAST(SUM(r2_sb) AS BIGINT) AS sy,
        |    CAST(SUM(r2_sa * r2_sa) AS BIGINT) AS sxx,
        |    CAST(SUM(r2_sb * r2_sb) AS BIGINT) AS syy,
        |    CAST(SUM(r2_sa * r2_sb) AS BIGINT) AS sxy
        |  FROM j)
        |SELECT n, n * sxy - sx * sy AS cov_num,
        |  n * sxx - sx * sx AS var_x, n * syy - sy * sy AS var_y,
        |  CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS DOUBLE) AS rho
        |FROM a""".stripMargin,
    "q177_isotonic" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS score,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) >= 15 THEN 1 ELSE 0 END AS label
        |  FROM events GROUP BY 1),
        |bs AS (SELECT score, COUNT(*) AS w, SUM(label) AS ysum
        |  FROM u GROUP BY 1),
        |idx AS (
        |  SELECT score, w, ysum,
        |    ROW_NUMBER() OVER (ORDER BY score) AS i,
        |    SUM(ysum) OVER (ORDER BY score) AS cum_s,
        |    SUM(w) OVER (ORDER BY score) AS cum_w
        |  FROM bs),
        |i2 AS (SELECT *, cum_s - ysum AS prev_s, cum_w - w AS prev_w
        |  FROM idx),
        |grid AS (
        |  SELECT j.i AS j, k.i AS k,
        |    CAST(k.cum_s - j.prev_s AS DOUBLE)
        |      / CAST(k.cum_w - j.prev_w AS DOUBLE) AS a
        |  FROM i2 j, i2 k WHERE j.i <= k.i),
        |sm AS (
        |  SELECT j, k, MIN(a) OVER (PARTITION BY j ORDER BY k DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM grid),
        |f AS (SELECT k AS i, MAX(m) AS fitted FROM sm GROUP BY 1)
        |SELECT i2.score, i2.w, CAST(i2.ysum AS BIGINT) AS ysum,
        |  CAST(CAST(i2.ysum AS DOUBLE) / CAST(i2.w AS DOUBLE) AS DOUBLE)
        |    AS rate,
        |  CAST(f.fitted AS DOUBLE) AS fitted
        |FROM i2 JOIN f ON i2.i = f.i ORDER BY i2.score""".stripMargin,
    "q175_ks_drift" ->
      """WITH counts AS (
        |  SELECT lang, n_chars, COUNT(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT l.lang, v.n_chars, COALESCE(c.cnt, 0) AS cnt
        |  FROM (SELECT DISTINCT n_chars FROM counts) v
        |  CROSS JOIN (SELECT DISTINCT lang FROM counts) l
        |  LEFT JOIN counts c ON c.lang = l.lang AND c.n_chars = v.n_chars),
        |cum AS (
        |  SELECT lang, n_chars,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY lang) AS n_lang
        |  FROM grid),
        |ref AS (
        |  SELECT n_chars, cum AS cum_ref, n_lang AS n_ref
        |  FROM cum WHERE lang = 'en')
        |SELECT c.lang, CAST(MAX(c.n_lang) AS BIGINT) AS n_lang,
        |  CAST(MAX(r.n_ref) AS BIGINT) AS n_ref,
        |  CAST(MAX(abs(c.cum * r.n_ref - r.cum_ref * c.n_lang)) AS BIGINT)
        |    AS ks_num,
        |  CAST(CAST(MAX(abs(c.cum * r.n_ref - r.cum_ref * c.n_lang))
        |      AS DOUBLE)
        |    / (CAST(MAX(c.n_lang) AS DOUBLE) * CAST(MAX(r.n_ref) AS DOUBLE))
        |    AS DOUBLE) AS ks
        |FROM cum c JOIN ref r USING (n_chars)
        |WHERE c.lang <> 'en'
        |GROUP BY c.lang ORDER BY c.lang""".stripMargin,
    "q171_auc" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS score,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) >= 15 THEN 1 ELSE 0 END AS label
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT score,
        |    SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pos,
        |    SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS neg
        |  FROM u GROUP BY 1),
        |c AS (
        |  SELECT score, pos, neg, SUM(pos) OVER (ORDER BY score) AS cum_pos
        |  FROM s),
        |a AS (
        |  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(neg) AS BIGINT) AS n_neg,
        |    CAST(2 * SUM(pos) * SUM(neg)
        |      - SUM(neg * (2 * cum_pos - pos)) AS BIGINT) AS u_stat_x2
        |  FROM c)
        |SELECT n_pos, n_neg, u_stat_x2,
        |  CAST(u_stat_x2 * 5000 // (n_pos * n_neg) AS BIGINT) AS auc_bp,
        |  CAST(CAST(u_stat_x2 AS DOUBLE)
        |    / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) * 2.0)
        |    AS DOUBLE) AS auc
        |FROM a""".stripMargin,
    "q172_gini" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS cents
        |  FROM orders GROUP BY 1),
        |byv AS (SELECT cents, COUNT(*) AS cnt FROM cust GROUP BY 1),
        |c AS (
        |  SELECT cents, cnt, SUM(cnt) OVER (ORDER BY cents) AS cum_cnt
        |  FROM byv),
        |a AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(SUM(cents * cnt) AS BIGINT) AS total_cents,
        |    CAST(SUM(cents * (2 * cnt * (cum_cnt - cnt) + cnt * (cnt + 1)))
        |      AS BIGINT) AS s1_x2
        |  FROM c)
        |SELECT n, total_cents,
        |  CAST((CAST(s1_x2 AS HUGEINT)
        |      - (CAST(n AS HUGEINT) + 1) * CAST(total_cents AS HUGEINT))
        |    * 10000
        |    // (CAST(n AS HUGEINT) * CAST(total_cents AS HUGEINT))
        |    AS BIGINT) AS gini_bp,
        |  CAST((CAST(s1_x2 AS DOUBLE)
        |      - CAST(n + 1 AS DOUBLE) * CAST(total_cents AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(total_cents AS DOUBLE))
        |    AS DOUBLE) AS gini
        |FROM a""".stripMargin,
    "q168_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) >= 15 THEN 1 ELSE 0 END AS converted,
        |    user_id % 2 AS arm
        |  FROM events GROUP BY 1),
        |agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
        |      AS conv_b
        |  FROM u)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CAST(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS DOUBLE)
        |    AS rate_a,
        |  CAST(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS DOUBLE)
        |    AS rate_b,
        |  CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
        |  THEN CAST((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt(
        |      (CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |          / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |    AS DOUBLE) ELSE NULL END AS z,
        |  (conv_a * n_b - conv_b * n_a) * (conv_a * n_b - conv_b * n_a)
        |      * (n_a + n_b)
        |    > 4 * (conv_a + conv_b) * (n_a + n_b - conv_a - conv_b)
        |      * n_a * n_b AS significant_2sigma
        |FROM agg""".stripMargin,
    "q165_bootstrap_ci" ->
      """WITH ev AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |rep AS (
        |  SELECT event_id, cents, unnest(range(0, 40)) AS rep FROM ev),
        |wu AS (
        |  SELECT cents, rep,
        |    CAST(CAST('0x' || substr(md5(event_id || '|' || rep), 1, 12)
        |      AS BIGINT) AS DOUBLE) / 281474976710656.0 AS u
        |  FROM rep),
        |w2 AS (
        |  SELECT rep, cents,
        |    CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1
        |      WHEN u < 0.919699 THEN 2 WHEN u < 0.981012 THEN 3
        |      WHEN u < 0.996340 THEN 4 WHEN u < 0.999406 THEN 5
        |      ELSE 6 END AS w
        |  FROM wu),
        |m AS (
        |  SELECT rep, CAST(SUM(w * cents) AS DOUBLE)
        |    / CAST(SUM(w) * 100 AS DOUBLE) AS mean_b
        |  FROM w2 GROUP BY 1),
        |arr AS (SELECT list(mean_b ORDER BY mean_b) AS ms FROM m),
        |pt AS (
        |  SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) * 100 AS DOUBLE)
        |      AS point_mean
        |  FROM ev)
        |SELECT n_rows, point_mean, CAST(len(ms) AS INTEGER) AS n_replicates,
        |  CAST(ms[1] AS DOUBLE) AS ci_low, CAST(ms[39] AS DOUBLE) AS ci_high
        |FROM pt, arr""".stripMargin,
    "q162_trailing_z" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt,
        |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS ord
        |  FROM events GROUP BY 1, 2, 4),
        |wd AS (
        |  SELECT event_type, day, cnt,
        |    COUNT(cnt) OVER w AS n, SUM(cnt) OVER w AS sx,
        |    SUM(cnt * cnt) OVER w AS sx2
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ord
        |    RANGE BETWEEN 14 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, cnt, n,
        |  CAST(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS DOUBLE) AS mean_cnt,
        |  CASE WHEN n * sx2 - sx * sx > 0 THEN
        |    CAST((CAST(cnt AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |      / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE)) AS DOUBLE)
        |  ELSE NULL END AS z,
        |  (n * cnt - sx) * (n * cnt - sx) * (n - 1)
        |    > 9 * n * (n * sx2 - sx * sx) AS is_anomaly
        |FROM wd WHERE n >= 3
        |ORDER BY event_type, day""".stripMargin,
    "q153_seasonal_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT *, dayofweek(day) + 1 AS dow FROM daily),
        |stats AS (
        |  SELECT event_type, dow, COUNT(*) AS n, SUM(cnt) AS sx,
        |    SUM(cnt * cnt) AS sx2
        |  FROM d2 GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT d2.event_type, d2.day, CAST(d2.dow AS INTEGER) AS dow, cnt,
        |  CAST(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS DOUBLE) AS mean_cnt,
        |  CAST((CAST(cnt AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
        |           / CAST(n * (n - 1) AS DOUBLE)) AS DOUBLE) AS z,
        |  4 * (n * cnt - sx) * (n * cnt - sx) * (n - 1)
        |    > 9 * n * (n * sx2 - sx * sx) AS is_anomaly
        |FROM d2 JOIN stats
        |  ON stats.event_type = d2.event_type AND stats.dow = d2.dow
        |ORDER BY d2.event_type, d2.day""".stripMargin,
    "q154_hll_rollup" ->
      """WITH h AS (
        |  SELECT c_mktsegment AS segment,
        |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12)
        |      AS BIGINT) AS h
        |  FROM customer),
        |rk AS (
        |  SELECT segment, h // 4398046511104 AS bucket,
        |    CASE WHEN h % 4398046511104 = 0 THEN 43
        |      ELSE 43 - length(bin(h % 4398046511104)) END AS rank
        |  FROM h),
        |segregs AS (
        |  SELECT segment, bucket, MAX(rank) AS r FROM rk GROUP BY 1, 2),
        |allregs AS (
        |  SELECT 'ALL' AS segment, bucket, MAX(r) AS r FROM segregs GROUP BY 2),
        |regs AS (SELECT * FROM segregs UNION ALL SELECT * FROM allregs),
        |grid AS (
        |  SELECT segment, unnest(range(0, 64)) AS bucket FROM (
        |    SELECT DISTINCT c_mktsegment AS segment FROM customer
        |    UNION ALL SELECT 'ALL')),
        |fullr AS (
        |  SELECT g.segment, COALESCE(regs.r, 0) AS r
        |  FROM grid g LEFT JOIN regs
        |    ON regs.segment = g.segment AND regs.bucket = g.bucket),
        |est AS (
        |  SELECT segment,
        |    CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS empty_buckets,
        |    CAST(SUM(POW(0.5, r)) AS DOUBLE) AS sum_inv
        |  FROM fullr GROUP BY 1),
        |ex AS (
        |  SELECT c_mktsegment AS segment,
        |    COUNT(DISTINCT c_custkey) AS exact_distinct
        |  FROM customer GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', COUNT(DISTINCT c_custkey) FROM customer)
        |SELECT e.segment, empty_buckets, sum_inv, exact_distinct,
        |  CAST(0.709 * 64.0 * 64.0 / sum_inv AS DOUBLE) AS hll_estimate,
        |  CAST((0.709 * 64.0 * 64.0 / sum_inv)
        |    / CAST(exact_distinct AS DOUBLE) AS DOUBLE) AS est_ratio
        |FROM est e JOIN ex ON ex.segment = e.segment
        |ORDER BY 1""".stripMargin,
    "q149_hll_registers" ->
      """WITH h AS (
        |  SELECT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)
        |    AS BIGINT) AS h
        |  FROM orders),
        |rk AS (
        |  SELECT h // 4398046511104 AS bucket,
        |    CASE WHEN h % 4398046511104 = 0 THEN 43
        |      ELSE 43 - length(bin(h % 4398046511104)) END AS rank
        |  FROM h),
        |regs AS (SELECT bucket, MAX(rank) AS r FROM rk GROUP BY 1),
        |grid AS (SELECT unnest(range(0, 64)) AS bucket),
        |fullr AS (
        |  SELECT COALESCE(r, 0) AS r FROM grid LEFT JOIN regs USING (bucket)),
        |agg AS (
        |  SELECT COUNT(*) AS m,
        |    CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS empty_buckets,
        |    CAST(MAX(r) AS BIGINT) AS max_register,
        |    CAST(SUM(POW(0.5, r)) AS DOUBLE) AS sum_inv
        |  FROM fullr),
        |ex AS (SELECT COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders)
        |SELECT m, empty_buckets, max_register, sum_inv, exact_distinct,
        |  CAST(0.709 * 64.0 * 64.0 / sum_inv AS DOUBLE) AS hll_estimate,
        |  CAST((0.709 * 64.0 * 64.0 / sum_inv)
        |    / CAST(exact_distinct AS DOUBLE) AS DOUBLE) AS est_ratio
        |FROM agg, ex""".stripMargin,
    // q149's register law per hour window; empty registers enter the
    // harmonic sum as 2^-0 = 1 via (64 - buckets_seen)
    "q259_grouped_topk" ->
      """WITH o AS (
        |  SELECT o_orderpriority,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
        |    lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS okey
        |  FROM orders),
        |n AS (
        |  SELECT o_orderpriority, COUNT(*) AS n_orders FROM o GROUP BY 1),
        |r AS (
        |  SELECT o_orderpriority, cents, okey,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY cents DESC, okey ASC) AS rk
        |  FROM o)
        |SELECT r.o_orderpriority, n_orders, CAST(rk AS INTEGER) AS rk,
        |  cents AS price_cents, okey AS o_orderkey_pad
        |FROM r JOIN n USING (o_orderpriority)
        |WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin,
    // q257: gaps-and-islands replay of session_window — merge iff the
    // gap is STRICTLY under 30 min (half-open [ts, ts+gap) windows);
    // session_end = last event + gap.
    "q257_session_panel" ->
      """WITH e AS (
        |  SELECT ts, user_id, CAST(FLOOR(value * 100) AS BIGINT) AS v
        |  FROM events),
        |g AS (
        |  SELECT ts, user_id, v,
        |    CASE WHEN ts < LAG(ts) OVER w + INTERVAL 30 MINUTE
        |      THEN 0 ELSE 1 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  user_id,
        |  COUNT(*) AS event_count,
        |  CAST(SUM(v) AS BIGINT) AS session_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // q253: in the no-decrement regime (distinct keys <= capacity per
    // window) the MG sketch IS the exact per-key frequency table, so
    // the oracle is a plain windowed GROUP BY + rank.
    "q253_window_topk" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS window_start,
        |    CAST(user_id AS VARCHAR) AS item
        |  FROM events),
        |cnts AS (
        |  SELECT window_start, item, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM e GROUP BY 1, 2),
        |n AS (
        |  SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(COUNT(DISTINCT item) AS BIGINT) AS distinct_keys
        |  FROM e GROUP BY 1),
        |rnk AS (
        |  SELECT window_start, item, cnt, ROW_NUMBER() OVER (
        |    PARTITION BY window_start ORDER BY cnt DESC, item) AS rk
        |  FROM cnts)
        |SELECT rnk.window_start,
        |  rnk.window_start + INTERVAL 1 HOUR AS window_end,
        |  CAST(rk AS BIGINT) AS rk, item, cnt, n_events, distinct_keys
        |FROM rnk JOIN n USING (window_start)
        |WHERE rk <= 5
        |ORDER BY window_start, rk""".stripMargin,
    "q246_window_cardinality" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS window_start, user_id FROM events),
        |h AS (
        |  SELECT window_start,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
        |      AS BIGINT) AS h
        |  FROM e),
        |rk AS (
        |  SELECT window_start, h // 4398046511104 AS bucket,
        |    CASE WHEN h % 4398046511104 = 0 THEN 43
        |      ELSE 43 - length(bin(h % 4398046511104)) END AS rank
        |  FROM h),
        |regs AS (
        |  SELECT window_start, bucket, MAX(rank) AS r
        |  FROM rk GROUP BY 1, 2),
        |agg AS (
        |  SELECT window_start, COUNT(*) AS buckets_seen,
        |    SUM(POW(0.5, r)) AS sum_inv_seen
        |  FROM regs GROUP BY 1),
        |ex AS (
        |  SELECT date_trunc('hour', ts) AS window_start,
        |    COUNT(DISTINCT user_id) AS exact_distinct
        |  FROM events GROUP BY 1)
        |SELECT agg.window_start,
        |  agg.window_start + INTERVAL 1 HOUR AS window_end,
        |  CAST(buckets_seen AS BIGINT) AS buckets_seen,
        |  CAST(sum_inv_seen + (64 - buckets_seen) AS DOUBLE) AS sum_inv,
        |  CAST(0.709 * 64.0 * 64.0 / (sum_inv_seen + (64 - buckets_seen))
        |    AS DOUBLE) AS hll_estimate,
        |  exact_distinct
        |FROM agg JOIN ex USING (window_start)
        |ORDER BY window_start""".stripMargin,
    // q243's bucket law and rank rule per hour window; cents via
    // floor(value*100) — floor of the same IEEE double is identical
    // cross-engine where a bare cast would round vs truncate
    "q247_window_quantiles" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS window_start,
        |    CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events),
        |bl AS (
        |  SELECT window_start,
        |    CASE WHEN v < 32 THEN v
        |         ELSE ((length(ltrim(bin(v), '0')) - 6) * 32)
        |              + (v >> (length(ltrim(bin(v), '0')) - 6)) END AS idx
        |  FROM e),
        |cnt AS (
        |  SELECT window_start, idx, COUNT(*) AS c FROM bl GROUP BY 1, 2),
        |cum AS (
        |  SELECT window_start, idx,
        |    SUM(c) OVER (PARTITION BY window_start ORDER BY idx) AS cum,
        |    SUM(c) OVER (PARTITION BY window_start) AS n
        |  FROM cnt),
        |pick AS (
        |  SELECT window_start, MAX(n) AS n,
        |    MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN idx END) AS i50,
        |    MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN idx END) AS i95,
        |    MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN idx END) AS i99
        |  FROM cum GROUP BY 1)
        |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
        |  CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN i50 < 32 THEN i50
        |    ELSE (i50 - ((i50 // 32 - 1) * 32)) << (i50 // 32 - 1) END
        |    AS BIGINT) AS p50_lb,
        |  CAST(CASE WHEN i95 < 32 THEN i95
        |    ELSE (i95 - ((i95 // 32 - 1) * 32)) << (i95 // 32 - 1) END
        |    AS BIGINT) AS p95_lb,
        |  CAST(CASE WHEN i99 < 32 THEN i99
        |    ELSE (i99 - ((i99 // 32 - 1) * 32)) << (i99 // 32 - 1) END
        |    AS BIGINT) AS p99_lb
        |FROM pick ORDER BY window_start""".stripMargin,
    "q148_cusum" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |arr AS (
        |  SELECT user_id, list(CAST(cnt AS BIGINT) ORDER BY day) AS xs,
        |    list(day ORDER BY day) AS ds
        |  FROM daily GROUP BY 1),
        |ser AS (
        |  SELECT user_id, ds,
        |    list_transform(range(1, len(xs) + 1), i ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT), xs[1:i]),
        |        (a, b) -> greatest(CAST(0 AS BIGINT), a + b - 3))) AS series
        |  FROM arr)
        |SELECT user_id, CAST(len(series) AS INTEGER) AS n_days,
        |  CAST(list_aggregate(series, 'max') AS BIGINT) AS cusum_max,
        |  CAST(len(list_filter(series, v -> v >= 5)) AS INTEGER) AS alarm_days,
        |  CASE WHEN len(list_filter(range(1, len(series) + 1),
        |      i -> series[i] >= 5)) > 0
        |    THEN strftime(ds[list_filter(range(1, len(series) + 1),
        |      i -> series[i] >= 5)[1]], '%Y-%m-%d')
        |    ELSE NULL END AS first_alarm_day
        |FROM ser ORDER BY user_id""".stripMargin,
    "q144_stickiness" ->
      """WITH au AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM au GROUP BY 1),
        |contrib AS (
        |  SELECT user_id, CAST(unnest(generate_series(day,
        |    day + INTERVAL 27 DAY, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM au),
        |mau AS (SELECT day, COUNT(DISTINCT user_id) AS mau_28d
        |        FROM contrib GROUP BY 1)
        |SELECT d.day, d.dau, m.mau_28d,
        |  CAST(CAST(d.dau AS DOUBLE) / CAST(m.mau_28d AS DOUBLE) AS DOUBLE)
        |    AS stickiness
        |FROM dau d JOIN mau m USING (day)
        |ORDER BY d.day""".stripMargin,
    "q145_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |c AS (SELECT digit, COUNT(*) AS observed FROM d
        |      WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
        |t AS (SELECT CAST(SUM(observed) AS BIGINT) AS total FROM c)
        |SELECT c.digit, c.observed, t.total,
        |  CAST(CAST(c.observed AS DOUBLE) / CAST(t.total AS DOUBLE) AS DOUBLE)
        |    AS share,
        |  CAST(CASE c.digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
        |    WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181
        |    WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
        |    ELSE 0.045757 END AS DOUBLE) AS expected_share,
        |  abs(CAST(CAST(c.observed AS DOUBLE) / CAST(t.total AS DOUBLE)
        |      AS DOUBLE)
        |    - CAST(CASE c.digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
        |        WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181
        |        WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
        |        ELSE 0.045757 END AS DOUBLE)) AS abs_dev
        |FROM c, t
        |ORDER BY c.digit""".stripMargin,
    "q140_weighted_median" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem WHERE CAST(l_quantity AS BIGINT) > 0),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS total_weight FROM v),
        |r AS (SELECT v, SUM(w) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        |      FROM v)
        |SELECT t.total_weight, (t.total_weight + 1) // 2 AS k,
        |  (SELECT MIN(r.v) FROM r, t WHERE r.cw >= (t.total_weight + 1) // 2)
        |    AS weighted_median_cents
        |FROM t""".stripMargin,
    "q139_trend_line" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |    COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1),
        |sl AS (
        |  SELECT *,
        |    CAST(CAST(n_days * sxy - sx * sy AS DOUBLE)
        |      / CAST(n_days * sxx - sx * sx AS DOUBLE) AS DOUBLE) AS slope
        |  FROM m)
        |SELECT event_type, n_days, sx, sy, sxy, sxx, slope,
        |  CAST((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |    / CAST(n_days AS DOUBLE) AS DOUBLE) AS intercept
        |FROM sl ORDER BY event_type""".stripMargin,
    "q138_equidepth_hist" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
        |             COUNT(*) OVER () AS n FROM v),
        |cuts AS (SELECT
        |  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.25 * n) AS BIGINT))
        |      THEN v END) AS p25,
        |  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.50 * n) AS BIGINT))
        |      THEN v END) AS p50,
        |  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.75 * n) AS BIGINT))
        |      THEN v END) AS p75
        |  FROM r)
        |SELECT
        |  CASE WHEN v.v <= c.p25 THEN 'b1' WHEN v.v <= c.p50 THEN 'b2'
        |       WHEN v.v <= c.p75 THEN 'b3' ELSE 'b4' END AS bucket,
        |  COUNT(*) AS n, MIN(v.v) AS min_cents, MAX(v.v) AS max_cents,
        |  CAST(SUM(v.v) AS BIGINT) AS sum_cents,
        |  c.p25 AS p25_cents, c.p50 AS p50_cents, c.p75 AS p75_cents
        |FROM v, cuts c
        |GROUP BY 1, c.p25, c.p50, c.p75
        |ORDER BY bucket""".stripMargin,
    "q191_cramers_v" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS observed
        |  FROM documents GROUP BY 1, 2),
        |bl AS (SELECT lang, CAST(SUM(observed) AS BIGINT) AS row_total
        |  FROM cells GROUP BY 1),
        |bs AS (SELECT source, CAST(SUM(observed) AS BIGINT) AS col_total
        |  FROM cells GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(observed) AS BIGINT) AS n_total,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    COUNT(DISTINCT source) AS n_sources
        |  FROM cells),
        |grid AS (
        |  SELECT bl.lang, bs.source, bl.row_total, bs.col_total,
        |    t.n_total, t.n_langs, t.n_sources,
        |    COALESCE(c.observed, 0) AS o
        |  FROM bl CROSS JOIN bs CROSS JOIN tot t
        |  LEFT JOIN cells c ON c.lang = bl.lang AND c.source = bs.source),
        |c2 AS (
        |  SELECT n_total, n_langs, n_sources,
        |    CAST(round((CAST(o AS DOUBLE)
        |        - CAST(row_total * col_total AS DOUBLE) / CAST(n_total AS DOUBLE))
        |      * (CAST(o AS DOUBLE)
        |        - CAST(row_total * col_total AS DOUBLE) / CAST(n_total AS DOUBLE))
        |      / (CAST(row_total * col_total AS DOUBLE) / CAST(n_total AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS contrib
        |  FROM grid),
        |agg AS (
        |  SELECT SUM(contrib) AS chi2_dec,
        |    CAST(MAX(n_total) AS BIGINT) AS n_total,
        |    CAST(MAX(n_langs) AS BIGINT) AS n_langs,
        |    CAST(MAX(n_sources) AS BIGINT) AS n_sources
        |  FROM c2)
        |SELECT CAST(chi2_dec AS DOUBLE) AS chi2_total, n_total,
        |  CAST(LEAST(n_langs - 1, n_sources - 1) AS BIGINT) AS dof_min,
        |  CAST(sqrt(CAST(chi2_dec AS DOUBLE)
        |    / CAST(n_total * LEAST(n_langs - 1, n_sources - 1) AS DOUBLE)) AS DOUBLE)
        |    AS cramers_v
        |FROM agg""".stripMargin,
    "q190_source_divergence" ->
      """WITH cells AS (
        |  SELECT source, lang, COUNT(*) AS c_sl
        |  FROM documents GROUP BY 1, 2),
        |bs AS (SELECT source, CAST(SUM(c_sl) AS BIGINT) AS n_s FROM cells GROUP BY 1),
        |bl AS (SELECT lang, CAST(SUM(c_sl) AS BIGINT) AS c_l FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c_sl) AS BIGINT) AS n_tot FROM cells),
        |grid AS (
        |  SELECT bs.source, bl.lang, bs.n_s, bl.c_l, t.n_tot,
        |    COALESCE(c.c_sl, 0) AS c_sl
        |  FROM bs CROSS JOIN bl CROSS JOIN tot t
        |  LEFT JOIN cells c ON c.source = bs.source AND c.lang = bl.lang),
        |pq AS (
        |  SELECT source, n_s, c_sl,
        |    CAST(c_sl AS DOUBLE) / CAST(n_s AS DOUBLE) AS p,
        |    CAST(c_l AS DOUBLE) / CAST(n_tot AS DOUBLE) AS q
        |  FROM grid),
        |terms AS (
        |  SELECT source, n_s,
        |    CAST(CASE WHEN c_sl > 0
        |      THEN round(p * round(ln(p / ((p + q) / 2)), 6) / 2, 6)
        |      ELSE 0 END AS DECIMAL(18,6)) AS t_p,
        |    CAST(round(q * round(ln(q / ((p + q) / 2)), 6) / 2, 6)
        |      AS DECIMAL(18,6)) AS t_q
        |  FROM pq)
        |SELECT source, MAX(n_s) AS n_docs,
        |  CAST(SUM(t_p + t_q) AS DOUBLE) AS jsd_nats
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "q137_chi_square" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS observed
        |  FROM documents GROUP BY 1, 2),
        |marg AS (
        |  SELECT *,
        |    SUM(observed) OVER (PARTITION BY lang) AS row_total,
        |    SUM(observed) OVER (PARTITION BY source) AS col_total
        |  FROM cells),
        |tot AS (
        |  SELECT SUM(observed) AS n_total,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    COUNT(DISTINCT source) AS n_sources
        |  FROM cells),
        |scored AS (
        |  SELECT m.lang, m.source, m.observed,
        |    CAST(m.row_total * m.col_total AS DOUBLE)
        |      / CAST(t.n_total AS DOUBLE) AS expected,
        |    t.n_langs, t.n_sources
        |  FROM marg m, tot t),
        |c2 AS (
        |  SELECT *,
        |    CAST(round((CAST(observed AS DOUBLE) - expected)
        |      * (CAST(observed AS DOUBLE) - expected) / expected, 6)
        |      AS DECIMAL(18,6)) AS contrib
        |  FROM scored)
        |SELECT c2.lang, c2.source, c2.observed, c2.expected,
        |  CAST(c2.contrib AS DOUBLE) AS cell_chi2,
        |  CAST(s.chi2_sum AS DOUBLE) AS chi2_total,
        |  CAST((c2.n_langs - 1) * (c2.n_sources - 1) AS BIGINT) AS dof
        |FROM c2, (SELECT SUM(contrib) AS chi2_sum FROM c2) s
        |ORDER BY c2.lang, c2.source""".stripMargin,
    "q134_mad_outliers" ->
      """WITH v AS (
        |  SELECT event_id, user_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events),
        |m AS (SELECT median(v) AS med FROM v),
        |d AS (SELECT v.*, abs(2 * v.v - CAST(2 * m.med AS BIGINT)) AS dev2
        |      FROM v, m),
        |m2 AS (SELECT median(dev2) AS mad2 FROM d)
        |SELECT d.event_id, d.user_id, d.v AS value_cents,
        |  m.med AS median_cents,
        |  m2.mad2 / 2.0 AS mad_cents,
        |  abs(CAST(d.v AS DOUBLE) - m.med) AS abs_dev_cents,
        |  abs(CAST(d.v AS DOUBLE) - m.med)
        |    > (3.0 * 1.4826) * (m2.mad2 / 2.0) AS is_outlier
        |FROM d, m, m2
        |ORDER BY d.event_id""".stripMargin,
    // the windowed nearest-rank road the query refuses to take
    "q129_grouped_pct_funnel" ->
      """WITH v AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, x,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n FROM v)
        |SELECT event_type, 'p50' AS pct, n, x AS value_cents FROM r
        |WHERE rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT))
        |UNION ALL
        |SELECT event_type, 'p95' AS pct, n, x AS value_cents FROM r
        |WHERE rn = GREATEST(1, CAST(ceil(0.95 * n) AS BIGINT))
        |ORDER BY event_type, pct""".stripMargin,
    // the oracle takes the global-sort road the query refuses: rank
    // every row, pick the middle(s) — equality proves the funnel
    "q128_exact_median" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM lineitem),
        |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn,
        |        COUNT(*) OVER () AS n FROM v),
        |mids AS (SELECT n, x FROM r WHERE rn = (n+1)//2 OR rn = (n+2)//2)
        |SELECT MAX(n) AS n, CAST(SUM(x) AS BIGINT) AS mid_sum_cents,
        |  CAST(CAST(SUM(x) AS DOUBLE) / (COUNT(*) * 100) AS DOUBLE) AS median_price
        |FROM mids""".stripMargin,
    // direct weekly min-k — merged-daily equals this exactly (min-k
    // union is lossless), which is the whole claim under test
    "q126_sketch_rollup" ->
      """WITH dh AS (
        |  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week,
        |    CAST(ts AS DATE) AS day, md5(CAST(user_id AS VARCHAR)) AS h
        |  FROM events),
        |days AS (
        |  SELECT week, COUNT(DISTINCT day) AS days_merged FROM dh GROUP BY 1),
        |ranked AS (
        |  SELECT week, h,
        |    ROW_NUMBER() OVER (PARTITION BY week ORDER BY h) AS rn
        |  FROM (SELECT DISTINCT week, h FROM dh)),
        |agg AS (
        |  SELECT week, MAX(CASE WHEN rn = 256 THEN h END) AS kth,
        |    LEAST(COUNT(*), 256) AS sketch_size
        |  FROM ranked GROUP BY week)
        |SELECT a.week, d.days_merged,
        |  CAST(a.sketch_size AS BIGINT) AS sketch_size,
        |  CAST(CASE WHEN a.sketch_size < 256 THEN a.sketch_size
        |       ELSE 255.0 / (CAST(CAST('0x' || substr(a.kth, 1, 12) AS BIGINT)
        |                     AS DOUBLE) / 281474976710656.0)
        |       END AS DOUBLE) AS weekly_users_est
        |FROM agg a JOIN days d ON d.week = a.week
        |ORDER BY a.week""".stripMargin,
    "q85_sample_quantiles" ->
      """WITH m AS (
        |  SELECT l_extendedprice AS v,
        |    CASE WHEN md5(concat_ws('|', l_orderkey, l_linenumber)) < '2'
        |         THEN l_extendedprice END AS vs
        |  FROM lineitem)
        |SELECT COUNT(v) AS rows_total, COUNT(vs) AS rows_sampled,
        |  quantile_cont(v, 0.5) AS p50_exact,
        |  quantile_cont(vs, 0.5) AS p50_est,
        |  quantile_cont(v, 0.95) AS p95_exact,
        |  quantile_cont(vs, 0.95) AS p95_est
        |FROM m""".stripMargin,
    "q82_kmv_overlap" ->
      s"""WITH h AS (
         |  SELECT DISTINCT o_orderstatus AS status,
         |         md5(CAST(o_custkey AS VARCHAR)) AS hv
         |  FROM orders),
         |r AS (
         |  SELECT status, hv,
         |         ROW_NUMBER() OVER (PARTITION BY status ORDER BY hv) AS rn
         |  FROM h),
         |sk AS (
         |  SELECT status, list(hv ORDER BY hv) AS sketch
         |  FROM r WHERE rn <= 256 GROUP BY status),
         |p AS (
         |  SELECT a.status AS status_a, b.status AS status_b,
         |         a.sketch AS sa, b.sketch AS sb,
         |         list_sort(list_distinct(a.sketch || b.sketch))[1:256] AS su
         |  FROM sk a, sk b WHERE a.status < b.status),
         |est AS (
         |  SELECT status_a, status_b,
         |    CAST(${kmvEstSql("sa")} AS DOUBLE) AS est_a,
         |    CAST(${kmvEstSql("sb")} AS DOUBLE) AS est_b,
         |    CAST(${kmvEstSql("su")} AS DOUBLE) AS est_union
         |  FROM p),
         |d AS (SELECT DISTINCT o_orderstatus AS st, o_custkey AS ck FROM orders),
         |ex AS (
         |  SELECT a.st AS status_a, b.st AS status_b, COUNT(*) AS exact_overlap
         |  FROM d a JOIN d b ON a.ck = b.ck AND a.st < b.st GROUP BY 1, 2)
         |SELECT est.status_a, est.status_b, est_a, est_b, est_union,
         |  est_a + est_b - est_union AS est_overlap,
         |  COALESCE(ex.exact_overlap, 0) AS exact_overlap
         |FROM est LEFT JOIN ex
         |  ON est.status_a = ex.status_a AND est.status_b = ex.status_b
         |ORDER BY est.status_a, est.status_b""".stripMargin,
    "q76_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT o_orderstatus AS status,
        |         md5(CAST(o_custkey AS VARCHAR)) AS hv
        |  FROM orders),
        |ranked AS (
        |  SELECT status, hv,
        |         ROW_NUMBER() OVER (PARTITION BY status ORDER BY hv) AS rn
        |  FROM h),
        |agg AS (
        |  SELECT status, COUNT(*) AS n_exact,
        |         MAX(CASE WHEN rn = 256 THEN hv END) AS kth,
        |         LEAST(COUNT(*), 256) AS sketch_size
        |  FROM ranked GROUP BY status)
        |SELECT status, n_exact, CAST(sketch_size AS BIGINT) AS sketch_size,
        |  CAST(CASE WHEN sketch_size < 256 THEN sketch_size
        |       ELSE 255.0 / (CAST(CAST('0x' || substr(kth, 1, 12) AS BIGINT) AS DOUBLE)
        |                     / 281474976710656.0)
        |       END AS DOUBLE) AS kmv_est
        |FROM agg ORDER BY status""".stripMargin,
    // graft_hdr replay: bucket = identity below 2^5, else exponent +
    // top-5 mantissa bits (length(bin(v)) - 1 is floor(log2 v));
    // quantile = lower bound of the first bucket whose running count
    // reaches ceil(n*pct/100). Pure integer shifts — bit-exact.
    "q243_hdr_quantiles" ->
      """WITH v AS (
        |  SELECT o_orderstatus AS status,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders),
        |bl AS (
        |  SELECT status,
        |    CASE WHEN v < 32 THEN v
        |         ELSE ((length(ltrim(bin(v), '0')) - 6) * 32)
        |              + (v >> (length(ltrim(bin(v), '0')) - 6)) END AS idx
        |  FROM v),
        |cnt AS (SELECT status, idx, COUNT(*) AS c FROM bl GROUP BY 1, 2),
        |cum AS (
        |  SELECT status, idx,
        |    SUM(c) OVER (PARTITION BY status ORDER BY idx) AS cum,
        |    SUM(c) OVER (PARTITION BY status) AS n
        |  FROM cnt),
        |pick AS (
        |  SELECT status, MAX(n) AS n,
        |    MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN idx END) AS i50,
        |    MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN idx END) AS i95,
        |    MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN idx END) AS i99
        |  FROM cum GROUP BY status)
        |SELECT status, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN i50 < 32 THEN i50
        |    ELSE (i50 - ((i50 // 32 - 1) * 32)) << (i50 // 32 - 1) END
        |    AS BIGINT) AS p50_lb,
        |  CAST(CASE WHEN i95 < 32 THEN i95
        |    ELSE (i95 - ((i95 // 32 - 1) * 32)) << (i95 // 32 - 1) END
        |    AS BIGINT) AS p95_lb,
        |  CAST(CASE WHEN i99 < 32 THEN i99
        |    ELSE (i99 - ((i99 // 32 - 1) * 32)) << (i99 // 32 - 1) END
        |    AS BIGINT) AS p99_lb
        |FROM pick ORDER BY status""".stripMargin,
    "q17_conditional_agg" ->
      """SELECT o_orderpriority AS priority, COUNT(*) AS order_count,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS fulfilled_count,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_count,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS pending_count,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS fulfilled_rate
        |FROM orders GROUP BY o_orderpriority ORDER BY priority""".stripMargin,
    "q18_worst_status" ->
      """SELECT o_custkey AS customer_id,
        |  MAX(CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2
        |      WHEN 'P' THEN 3 ELSE 0 END) AS worst_rank,
        |  COUNT(*) AS order_count,
        |  CASE MAX(CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2
        |       WHEN 'P' THEN 3 ELSE 0 END)
        |    WHEN 3 THEN 'PENDING' WHEN 2 THEN 'OPEN'
        |    WHEN 1 THEN 'FULFILLED' ELSE 'UNKNOWN' END AS worst_status
        |FROM orders GROUP BY o_custkey ORDER BY customer_id""".stripMargin,
    "q20_zscore_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS daily_rows
        |  FROM events GROUP BY 1),
        |stats AS (
        |  SELECT COUNT(*) AS n, SUM(daily_rows) AS sx,
        |    SUM(daily_rows * daily_rows) AS sx2 FROM daily)
        |SELECT event_date, daily_rows,
        |  CAST(sx / n AS DOUBLE) AS mean_rows,
        |  CAST((daily_rows - CAST(sx / n AS DOUBLE)) /
        |    sqrt((n * sx2 - sx * sx) / (n * (n - 1))) AS DOUBLE) AS z_score,
        |  abs(CAST((daily_rows - CAST(sx / n AS DOUBLE)) /
        |    sqrt((n * sx2 - sx * sx) / (n * (n - 1))) AS DOUBLE)) > 3.0 AS is_anomaly
        |FROM daily, stats ORDER BY event_date""".stripMargin,
    "q21_null_rates" ->
      """SELECT
        |  CAST(SUM(CASE WHEN NULLIF(o_orderstatus, 'P') IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS null_rate_status,
        |  CAST(SUM(CASE WHEN NULLIF(o_orderpriority, '5-LOW') IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS null_rate_priority,
        |  CAST(SUM(CASE WHEN (CASE WHEN o_totalprice > 300000 THEN o_totalprice END) IS NULL
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_rate_high_price,
        |  COUNT(*) AS row_count
        |FROM orders""".stripMargin,
    "q22_cardinality" ->
      """SELECT COUNT(DISTINCT user_id) AS distinct_users,
        |  COUNT(DISTINCT event_type) AS distinct_event_types,
        |  COUNT(DISTINCT CAST(ts AS DATE)) AS distinct_days,
        |  COUNT(*) AS total_rows
        |FROM events""".stripMargin,
    "q23_percentiles" ->
      """SELECT quantile_cont(l_quantity, 0.25) AS qty_p25,
        |  quantile_cont(l_quantity, 0.5) AS qty_median,
        |  quantile_cont(l_quantity, 0.75) AS qty_p75,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |    / COUNT(l_quantity) AS DOUBLE) AS qty_mean,
        |  quantile_cont(l_quantity, 0.5) BETWEEN 1.0 AND 50.0 AS gate_median_in_range
        |FROM lineitem""".stripMargin,
    "q24_uniqueness" ->
      """SELECT * FROM (
        |  SELECT 'events_event_id_unique' AS check_name, event_id AS key_value,
        |    COUNT(*) AS occurrences
        |  FROM events GROUP BY event_id HAVING COUNT(*) > 1
        |  UNION ALL
        |  SELECT 'events_user_id_unique' AS check_name, user_id AS key_value,
        |    COUNT(*) AS occurrences
        |  FROM events GROUP BY user_id HAVING COUNT(*) > 1)
        |ORDER BY check_name, key_value""".stripMargin,
    "q28_range_gates" ->
      """SELECT
        |  CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 0 AND 100) THEN 1 ELSE 0 END) AS BIGINT) AS qty_violations,
        |  CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS discount_violations,
        |  CAST(SUM(CASE WHEN NOT (l_tax BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS tax_violations,
        |  CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_price_violations,
        |  COUNT(*) AS rows_checked,
        |  SUM(CASE WHEN NOT (l_quantity BETWEEN 0 AND 100) THEN 1 ELSE 0 END)
        |   + SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END)
        |   + SUM(CASE WHEN NOT (l_tax BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END)
        |   + SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) = 0 AS all_gates_pass
        |FROM lineitem""".stripMargin,
    "q31_top_revenue" ->
      """SELECT o_custkey AS customer_id,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  COUNT(*) AS order_count
        |FROM orders GROUP BY o_custkey
        |ORDER BY total_revenue DESC, customer_id LIMIT 10""".stripMargin,
  )
}
