package graft.queries

import graft.Tables
import graft.operators.Skyline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Breadth completion beyond the reference's own function usage:
  * navigation windows (RANK/LEAD/FIRST_VALUE/NTILE), the string
  * kitchen, array-column operators, correlated-comparison via window
  * (the scalable rewrite of a correlated scalar subquery), and null
  * semantics. All oracle-checked.
  */
object Breadth {

  type Q = (SparkSession, String) => DataFrame

  /** Navigation window functions over each customer's order history:
    * rank, dense_rank, ntile quartile, lead, first/last value. */
  def q66WindowNav(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("customer_id")
      .orderBy(col("order_date"), col("order_id"))
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("customer_id"),
        col("o_orderdate").cast("date").as("order_date"),
        col("o_totalprice"))
      .withColumn("order_rank", rank().over(w))
      .withColumn("order_dense_rank", dense_rank().over(w))
      .withColumn("spend_quartile",
        ntile(4).over(Window.partitionBy("customer_id").orderBy(col("o_totalprice"), col("order_id"))))
      .withColumn("next_order_date",
        date_format(lead(col("order_date"), 1).over(w), "yyyy-MM-dd"))
      .withColumn("first_order_date", first(col("order_date")).over(wFrame))
      .withColumn("last_order_date", last(col("order_date")).over(wFrame))
      .orderBy("order_id")
  }

  /** String kitchen: pad/trim/reverse/translate/repeat/case/position. */
  def q67StringKitchen(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey").as("part_id"),
        lpad(col("p_brand"), 12, "_").as("brand_padded"),
        rpad(col("p_type"), 10, ".").as("type_padded"),
        reverse(col("p_name")).as("name_reversed"),
        translate(col("p_name"), "aeiou", "AEIOU").as("name_vowels_upper"),
        repeat(col("p_brand"), 2).as("brand_doubled"),
        upper(col("p_name")).as("name_upper"),
        instr(col("p_name"), " ").cast("int").as("space_pos"),
        substring_index(col("p_type"), "E", 1).as("type_before_e"),
        ltrim(rtrim(concat(lit("  "), col("p_brand"), lit("  ")))).as("trimmed"))
      .orderBy("part_id")

  /** Array-column operators on token arrays: sort, distinct, slice,
    * contains, position, union/except semantics via set fns. Array
    * results are emitted as joined strings — the driver's pandas
    * canonicalizer can't sort raw array cells, and a deterministic
    * string carries the same information for the compare. */
  def q68ArrayOps(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("t"))
      .select(
        col("doc_id"),
        size(col("t")).as("n_tokens"),
        array_join(sort_array(array_distinct(col("t"))), " ").as("vocab_sorted"),
        array_join(slice(col("t"), 1, 3), " ").as("first_three"),
        array_contains(col("t"), "spark").as("has_spark"),
        array_position(col("t"), "the").cast("bigint").as("first_the_pos"),
        element_at(col("t"), -1).as("last_token"),
        size(array_remove(col("t"), "the")).as("tokens_without_the"))
      .orderBy("doc_id")
  }

  /** Correlated-comparison: customers above their market segment's
    * average balance. Written as the scalable window rewrite (one
    * shuffle on segment) — exactly what Catalyst would decorrelate a
    * scalar subquery into; the oracle keeps the correlated form. */
  def q69AboveSegmentAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
    Tables.customer(s, dir)
      .withColumn("segment_avg",
        (sum(col("c_acctbal").cast("decimal(18,2)")).over(w).cast("double") /
          count(lit(1)).over(w)).cast("double"))
      .filter(col("c_acctbal") > col("segment_avg"))
      .select(
        col("c_custkey").as("customer_id"),
        col("c_mktsegment").as("segment"),
        col("c_acctbal").as("balance"),
        round(col("segment_avg"), 6).as("segment_avg"))
      .orderBy("customer_id")
  }

  /** Null semantics: null-safe equality (<=>), NULLIF/NVL/COALESCE
    * chains, null-aware counts. */
  def q72NullSemantics(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey").as("order_id"),
        nullif(col("o_orderstatus"), lit("P")).as("status_n"),
        nullif(col("o_orderpriority"), lit("5-LOW")).as("prio_n"))
      .select(
        col("order_id"),
        col("status_n").eqNullSafe(col("prio_n")).as("both_null_or_equal"),
        coalesce(col("status_n"), col("prio_n"), lit("ALL_NULL")).as("first_non_null"),
        col("status_n").isNull.as("status_is_null"),
        when(col("status_n").isNotNull && col("prio_n").isNotNull, "both")
          .when(col("status_n").isNotNull || col("prio_n").isNotNull, "one")
          .otherwise("neither").as("presence"))
      .orderBy("order_id")

  /** Entity-resolution fuzzy matching via a distinct-value funnel:
    *
    *   1. Dedup names; run the edit-distance verify on DISTINCT name
    *      pairs only. A duplicate-heavy corpus (entity names follow a
    *      Zipf-ish vocabulary) pays the quadratic verify on d distinct
    *      values, not n rows — here 64 distinct names vs 20k rows at
    *      sf0.1, i.e. ~2k levenshtein calls instead of 8M.
    *   2. Candidate generation over the distinct names is a FastSS /
    *      SymSpell deletion-neighborhood join (Bocek et al. 2007):
    *      two strings within edit distance 2 must share a variant
    *      obtained by deleting ≤ 2 chars from each (align the pair,
    *      drop the ≤2 edited chars on each side — lossless at the
    *      threshold), so the equi-join key is a HIGH-cardinality
    *      variant string: block size stays corpus-scale-independent,
    *      unlike the earlier brand-only blocking (~25 blocks whose
    *      size grew linearly and pair count quadratically).
    *   3. Expand verified name pairs back to (brand, key) pairs with
    *      plain equi-joins — this stage's cost is O(output), and the
    *      output (every matching pair) is the query's semantics.
    *
    * The ternary levenshtein kernel returns the exact distance within
    * the threshold, -1 otherwise, so one banded O(k·n) computation
    * serves both the filter and the output value. */
  def q83FuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val names = p.select(col("p_name").as("n")).distinct()
    val variants = names.select(col("n"),
      explode(graft.operators.FuzzyJoin.deletionNeighborhood(col("n"), 2)).as("v"))
    val cand = variants.as("x").join(variants.as("y"), Seq("v"))
      .filter(col("x.n") < col("y.n"))
      .select(col("x.n").as("n1"), col("y.n").as("n2")).distinct()
    val verified = cand
      .withColumn("edit_distance", levenshtein(col("n1"), col("n2"), 2))
      .filter(col("edit_distance") >= 0)
    // both orientations (key order is independent of name order) plus
    // the identity pairs — duplicate rows of the same name match at
    // distance 0 without ever reaching the neighborhood join
    val oriented = verified
      .unionByName(verified.select(col("n2").as("n1"), col("n1").as("n2"),
        col("edit_distance")))
      .unionByName(names.select(col("n").as("n1"), col("n").as("n2"),
        lit(0).as("edit_distance")))
    val a = p.select(col("p_partkey").as("key_a"), col("p_brand").as("brand"),
      col("p_name").as("name_a"))
    val b = p.select(col("p_partkey").as("key_b"), col("p_brand").as("brand"),
      col("p_name").as("name_b"))
    a.join(oriented, col("name_a") === col("n1"))
      .join(b, col("name_b") === col("n2") && a("brand") === b("brand"))
      .filter(col("key_a") < col("key_b"))
      .withColumn("match_tier",
        when(col("edit_distance") === 0, "exact").otherwise("fuzzy"))
      .select(a("brand"), col("key_a"), col("key_b"), col("name_a"),
        col("name_b"), col("edit_distance"), col("match_tier"))
      .orderBy("brand", "key_a", "key_b")
  }

  /** Schema-evolution union: a v2 feed adds a column mid-stream;
    * unionByName(allowMissingColumns) aligns by NAME and null-fills
    * the gap — the schema-drift tolerance every long-lived bronze
    * topic needs (positional union would silently mis-bind). */
  def q87SchemaDriftUnion(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val v1 = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("order_id"), col("o_custkey").as("customer_id"),
        col("o_totalprice").as("revenue"))
    val v2 = o.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey").as("order_id"), col("o_custkey").as("customer_id"),
        col("o_totalprice").as("revenue"), col("o_orderpriority").as("priority"))
    v1.unionByName(v2, allowMissingColumns = true)
      .orderBy("order_id")
  }

  /** Higher-order array functions — transform / filter / aggregate
    * over per-order quantity vectors (the lambda-expression family
    * next to q68's set-style array ops). Quantities are cast to
    * longs and the collected array is sorted, so every fold is
    * order-deterministic and exact in both engines. */
  def q88ArrayHof(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("order_id"))
      .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("qtys"))
      .select(col("order_id"),
        size(col("qtys")).as("item_count"),
        aggregate(col("qtys"), lit(0L), (acc, x) => acc + x).as("total_qty"),
        size(filter(col("qtys"), x => x >= 30)).as("big_items"),
        aggregate(transform(col("qtys"), x => x * x), lit(0L),
          (acc, x) => acc + x).as("sum_sq"))
      .orderBy("order_id")

  /** Distribution windows: percent_rank and cume_dist per customer
    * (the two navigation functions q66 doesn't cover). The window
    * order carries a unique tie-break, so both ratios are exact
    * integer fractions — deterministic cross-engine doubles. */
  def q89WindowDist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("customer_id")
      .orderBy(col("o_totalprice"), col("order_id"))
    Tables.orders(s, dir)
      .select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("customer_id"),
        col("o_totalprice"))
      .withColumn("spend_pct_rank", percent_rank().over(w))
      .withColumn("spend_cume_dist", cume_dist().over(w))
      .orderBy("order_id")
  }

  /** CDC between two derived table versions (operators.Cdc): v2 drops
    * some orders, adds others, and bumps every third price — the diff
    * labels each changed key insert/delete/update with before/after
    * values. One keyed full-outer join; no serialized row hashing. */
  def q90SnapshotCdc(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").as("order_id"), col("o_totalprice").as("price"))
    val v1 = o.filter(col("order_id") % 7 =!= 0)
    val v2 = o.filter(col("order_id") % 5 =!= 0)
      .withColumn("price",
        when(col("order_id") % 3 === 0, col("price") + 10.0).otherwise(col("price")))
    graft.operators.Cdc.snapshotDiff(v1, v2, Seq("order_id"))
      .select("order_id", "op", "price_before", "price_after")
      .orderBy("order_id")
  }

  /** Interval-overlap self join, blocked by order: which line items
    * of the same order were in transit simultaneously (ship→receipt
    * windows intersect). The block key bounds the quadratic term by
    * lines-per-order; at corpus scale an unkeyed interval join would
    * instead bucket intervals onto a coarse time grid (q33's shape).
    */
  def q91IntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    // the trimmed lineitem schema has no receipt date — derive a
    // deterministic transit window: ship + (quantity mod 20) days
    val li = Tables.lineitem(s, dir).select(
      col("l_orderkey").as("order_id"), col("l_linenumber").as("line_no"),
      col("l_shipdate").cast("date").as("ship"),
      date_add(col("l_shipdate").cast("date"),
        col("l_quantity").cast("int") % 20).as("receipt"))
    val a = li.select(col("order_id"), col("line_no").as("line_a"),
      col("ship").as("ship_a"), col("receipt").as("receipt_a"))
    val b = li.select(col("order_id"), col("line_no").as("line_b"),
      col("ship").as("ship_b"), col("receipt").as("receipt_b"))
    a.join(b, Seq("order_id"))
      .filter(col("line_a") < col("line_b"))
      .filter(col("ship_a") <= col("receipt_b") && col("ship_b") <= col("receipt_a"))
      .select(col("order_id"), col("line_a"), col("line_b"),
        (datediff(least(col("receipt_a"), col("receipt_b")),
          greatest(col("ship_a"), col("ship_b"))) + 1).as("overlap_days"))
      .orderBy("order_id", "line_a", "line_b")
  }

  /** Ratio-to-report: each (priority, status) revenue as a share of
    * its priority's total. The window sum runs over DECIMAL partials
    * (order-independent, unlike summing doubles whose result depends
    * on intra-partition add order), and only the final ratio drops to
    * doubles. */
  def q92RatioToReport(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("priority")
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_dec"))
      .withColumn("priority_share",
        col("rev_dec").cast("double") /
          sum(col("rev_dec")).over(w).cast("double"))
      .select(col("priority"), col("status"),
        col("rev_dec").cast("double").as("revenue"), col("priority_share"))
      .orderBy("priority", "status")
  }

  /** Numeric RANGE window frame (value-based, not time-based): for
    * each order, how many of the same customer's orders fall within
    * ±10000 of its price, and their decimal-exact revenue sum. The
    * frame bound is a VALUE offset on the sort key — a different
    * execution shape than ROWS frames (q25) or time RANGE (q11). */
  def q95ValueRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("customer_id").orderBy(col("price_l"))
      .rangeBetween(-10000L, 10000L)
    Tables.orders(s, dir)
      .select(col("o_orderkey").as("order_id"),
        col("o_custkey").as("customer_id"),
        col("o_totalprice"),
        // integral window sort key: long cents, so frame-bound
        // comparisons are exact in both engines
        round(col("o_totalprice") * 100).cast("long").as("price_l"))
      .withColumn("near_price_orders", count(lit(1)).over(w))
      .withColumn("near_price_revenue",
        sum(col("price_l")).over(w).cast("double") / 100.0)
      .select("order_id", "customer_id", "o_totalprice",
        "near_price_orders", "near_price_revenue")
      .orderBy("order_id")
  }

  /** Map-typed columns: per-customer status→count maps built with
    * map_from_entries over a SORTED entry array (map iteration order
    * = construction order, so downstream serialization is
    * deterministic), probed with try_element_at, and serialized to a
    * canonical string — raw map output would break hash comparison,
    * the same reason q68 emits arrays as joined strings. The oracle
    * pins the VALUES via plain grouped SQL (string_agg / CASE), so
    * the map implementation is checked against map-free semantics. */
  def q96MapOps(s: SparkSession, dir: String): DataFrame = {
    val cnts = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("customer_id"),
        col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("cnt"))
    cnts.groupBy("customer_id")
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("status"), col("cnt"))))).as("m"))
      .select(
        col("customer_id"),
        size(col("m")).as("distinct_statuses"),
        try_element_at(col("m"), lit("F")).as("fulfilled_count"),
        array_join(transform(map_entries(col("m")),
          e => concat(e.getField("key"), lit("="), e.getField("value"))), ",")
          .as("status_counts"))
      .orderBy("customer_id")
  }

  /** Market-basket pair mining (the pairwise A-priori step): top
    * co-occurring part pairs across orders. The pair join is blocked
    * on the order key — in-block pairs are bounded by lines-per-order
    * (≤7 in this schema), the same quadratic-containment argument as
    * q91 — and the final top-k is a TakeOrderedAndProject with a full
    * (count, part_a, part_b) tiebreak so LIMIT is deterministic. */
  def q117BasketPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("order_id"), col("l_partkey"))
      .distinct() // an order can repeat a part across lines
    val a = d.select(col("order_id"), col("l_partkey").as("part_a"))
    val b = d.select(col("order_id"), col("l_partkey").as("part_b"))
    a.join(b, Seq("order_id"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("part_a"), col("part_b"))
      .limit(25)
  }

  /** Cohort retention grid: users bucketed by first-signup week, and
    * for each (cohort, week-offset) the distinct users active that
    * week — the classic retention triangle. Shuffles: per-user first
    * aggregate, the user-keyed cohort join, then the bounded
    * (cohort, offset) grid aggregate. */
  def q118CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        date_trunc("week", col("ts")).cast("date").as("week"))
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val activity = ev.select(col("user_id"), col("week")).distinct()
    activity.join(cohorts, "user_id")
      .filter(col("week") >= col("cohort_week"))
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Spatial radius self-join with grid blocking: points land in
    * r-sized cells, one side probes its 3×3 cell neighborhood (a
    * 9-offset explode), so candidate generation is an equi-join on
    * the cell key — never all-pairs — and the exact distance test
    * runs only inside neighborhoods. Lossless by construction:
    * dist ≤ r ⟹ |Δlat| ≤ r ∧ |Δlon| ≤ r ⟹ cell indices differ by ≤ 1
    * per axis (GridJoinSpec pins grid ≡ brute force). Distance is
    * planar degrees — the small-area approximation; q30 carries the
    * spherical haversine scalar. Coordinates are synthesized from
    * keys, the q30 convention. At 100 TB this is the
    * tower-neighborhood / co-location join: cost scales with 9× the
    * per-cell density, output with local density — both independent
    * of total corpus extent. */
  def q125RadiusJoin(s: SparkSession, dir: String): DataFrame = {
    val r = 0.15
    val pts = Tables.customer(s, dir).select(
      col("c_custkey").as("id"),
      ((col("c_custkey") % 1000).cast("double") / 100.0).as("lat"),
      ((col("c_custkey") * 7 % 1000).cast("double") / 100.0).as("lon"))
    val cells = pts
      .withColumn("cx", floor(col("lon") / r))
      .withColumn("cy", floor(col("lat") / r))
    val offsets = (-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))))
    val probes = cells
      .select(col("id").as("id_a"), col("lat").as("lat_a"),
        col("lon").as("lon_a"), explode(array(offsets: _*)).as("cell"))
      .select(col("id_a"), col("lat_a"), col("lon_a"),
        col("cell.cx").as("cx"), col("cell.cy").as("cy"))
    val dist = sqrt(
      (col("lat_a") - col("lat")) * (col("lat_a") - col("lat")) +
        (col("lon_a") - col("lon")) * (col("lon_a") - col("lon")))
    probes.join(cells, Seq("cx", "cy"))
      .filter(col("id_a") < col("id") && dist <= r)
      .select(col("id_a"), col("id").as("id_b"),
        round(dist, 6).as("dist_deg"))
      .orderBy("id_a", "id_b")
  }

  /** 2-D Pareto frontier (skyline) of events — earliest-and-highest:
    * an event survives iff no other event is at-or-before it in time
    * with at-or-above value (strict somewhere). Both dimensions are
    * unbounded-cardinality, so this is the genuine distributed-skyline
    * case: [[graft.operators.Skyline]] runs one keyed per-timestamp
    * max, the PrefixSum-style two-phase running max over the
    * aggregate, and one keyed join back — no global window anywhere
    * (the oracle's unpartitioned cummax window is exactly the plan
    * shape the operator exists to avoid). */
  def q132Skyline(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    Skyline.paretoMinMax(ev, "ts_us", "value")
      .orderBy("ts_us", "event_id")
  }

  /** PageRank over the customer→supplier purchase graph, 3 unrolled
    * iterations in FIXED-POINT integer arithmetic: ranks are BIGINT
    * units of 10⁻¹² (r₀ = 10¹²), each step is
    * r' = 0.15 + 0.85·Σ r/outdeg computed as integer DIV — every
    * operation is exact, order-independent, and bit-reproducible in
    * any engine (double PageRank would hash-diverge on summation
    * order alone). Per iteration: one keyed join (rank → edge src)
    * and one keyed aggregate (sum over incoming edges of dst) — the
    * standard message-passing shape; iteration count is a constant,
    * edges are deduped once up front, and nothing ever leaves the
    * executors. */
  def q135PageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // the loop re-references e2 and nodes every iteration; without a
    // persist the final plan recomputes the orders⋈lineitem distinct
    // 3× for e2 plus 4× for nodes (Verify/Bench sweep leaked blocks)
    val e2 = edges.join(outdeg, "src").persist()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().persist()
    var ranks = nodes.withColumn("r", lit(1000000000000L))
    for (_ <- 1 to 3) {
      val contrib = e2.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("((r * 85) DIV 100) DIV outdeg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("in_mass"))
      // NOTE (r12, measured rejection): a per-round Lineage.cut was
      // tried (the broadcast build of `ranks` re-executes prior
      // rounds' join+aggs — 34 stages for 3 rounds) and measured
      // SLOWER (3.8 → 4.6 s isolated min-of-5): the replays read the
      // persisted e2/nodes caches and are cheaper than three eager
      // localCheckpoint materializations. At higher round counts the
      // quadratic replay would win; at 3 rounds it does not.
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(150000000000L) + coalesce(col("in_mass"), lit(0L))).as("r"))
    }
    ranks.select(col("node").as("node_id"), col("r").as("rank_fp"))
      .orderBy("node_id")
  }

  /** Join-size estimation by uniform KEY sampling (the CBO pre-flight
    * every planner wants before committing to a join strategy):
    * |A ⋈_k A| = Σ_k c_k², estimated from the keys whose md5 lands in
    * a 1/16 slice, scaled by 16 — key-sampling (not row-sampling)
    * keeps the per-key quadratic term unbiased. Here the estimate and
    * the ground truth come out of ONE aggregate pass (conditional
    * sums over the same key-count frame), so the comparison costs
    * nothing extra and the ratio column measures the estimator
    * honestly. Deterministic: md5 slice, integer sums, one double
    * division. */
  def q141JoinSizeEst(s: SparkSession, dir: String): DataFrame = {
    val p = 16
    val inSample =
      conv(substring(md5(col("k").cast("string")), 1, 12), 16, 10)
        .cast("long") % p === 0
    Tables.lineitem(s, dir).select(col("l_partkey").as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c") * col("c")).as("actual_pairs"),
        sum(when(inSample, 1L).otherwise(0L)).as("sampled_keys"),
        sum(when(inSample, col("c") * col("c")).otherwise(0L))
          .as("sample_pairs"))
      .select(col("sampled_keys"), col("sample_pairs"),
        (col("sample_pairs") * p).as("estimated_pairs"),
        col("actual_pairs"),
        ((col("sample_pairs") * p).cast("double") /
          col("actual_pairs").cast("double")).cast("double").as("est_ratio"))
  }

  /** Anti-entropy reconciliation between two table versions by BUCKET
    * CHECKSUM — the way 100 TB replicas are compared without a row
    * diff: each version aggregates (count, Σ row-signature) per
    * hash bucket; only buckets whose summaries differ are dirty, and
    * a row-level drill-down (q90's CDC diff) then reads JUST those
    * buckets. Signatures are 48-bit md5 prefixes over canonical
    * cents-exact fields summed as BIGINT (order-independent,
    * collision-safe at Σ-level for reconciliation purposes); the
    * whole compare shuffles |buckets| summary rows, never data. */
  def q142BucketReconcile(s: SparkSession, dir: String): DataFrame = {
    val nb = 64
    val o = Tables.orders(s, dir).select(col("o_orderkey").as("order_id"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .as("price_cents"),
      col("o_orderstatus").as("status"))
    val v1 = o.filter(col("order_id") % 97 =!= 0)
    val v2 = o.filter(col("order_id") % 89 =!= 0)
      .withColumn("price_cents",
        when(col("order_id") % 61 === 0, col("price_cents") + 100L)
          .otherwise(col("price_cents")))
    def summarize(df: DataFrame) = df
      .withColumn("bucket", pmod(col("order_id"), lit(nb)))
      .withColumn("row_sig",
        conv(substring(md5(concat_ws("|", col("order_id"),
          col("price_cents"), col("status"))), 1, 12), 16, 10).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("row_sig")).as("sig"))
    val b1 = summarize(v1)
      .select(col("bucket"), col("n").as("n_v1"), col("sig").as("sig_v1"))
    val b2 = summarize(v2)
      .select(col("bucket"), col("n").as("n_v2"), col("sig").as("sig_v2"))
    b1.join(b2, Seq("bucket"), "full")
      .select(col("bucket"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"),
        coalesce(col("sig_v1"), lit(0L)).as("sig_v1"),
        coalesce(col("sig_v2"), lit(0L)).as("sig_v2"))
      .withColumn("dirty",
        col("n_v1") =!= col("n_v2") || col("sig_v1") =!= col("sig_v2"))
      .orderBy("bucket")
  }

  /** RFM customer segmentation: per-customer recency / frequency /
    * monetary, each scored 1–5 by its EXACT corpus quintile, then a
    * coarse segment label. The quintile cut points come from three
    * [[graft.operators.ExactQuantile.groupedQuantiles]] funnels
    * (nearest-rank k = max(1, ⌈p·n⌉), the q129/q138 machinery — no
    * global sort, no unpartitioned ntile, which is how a naive RFM
    * is usually written and exactly what the plan police bans) and
    * ship as 12 literals in the scoring CASE. EAGER at build time
    * like q138: the three funnel passes run driver actions. Recency
    * is reversed (smaller = better). */
  def q163Rfm(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("customer_id"))
      .agg(
        datediff(lit("2001-09-01").cast("date"),
          max(col("o_orderdate").cast("date"))).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
          .as("monetary_cents"))
      .persist()
    def cuts(c: String, bucket: Long): Map[String, Long] =
      graft.operators.ExactQuantile.groupedQuantiles(
          cust.select(lit("all").as("g"), col(c).as("v")), "g", col("v"),
          Seq("p20" -> 0.2, "p40" -> 0.4, "p60" -> 0.6, "p80" -> 0.8), bucket)
        .collect()
        .map(r => r.getAs[String]("pct") -> r.getAs[Long]("value_cents")).toMap
    val rc = cuts("recency_days", 30L)
    val fc = cuts("frequency", 5L)
    val mc = cuts("monetary_cents", 100000L)
    def score(c: Column, m: Map[String, Long]): Column =
      when(c <= m("p20"), 1).when(c <= m("p40"), 2).when(c <= m("p60"), 3)
        .when(c <= m("p80"), 4).otherwise(5)
    cust
      .withColumn("r_score", lit(6) - score(col("recency_days"), rc))
      .withColumn("f_score", score(col("frequency"), fc))
      .withColumn("m_score", score(col("monetary_cents"), mc))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
          "champion")
          .when(col("r_score") >= 4 && col("f_score") <= 2, "new_or_returning")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk_loyal")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("core"))
      .orderBy("customer_id")
  }

  /** Item-item collaborative similarity (co-occurrence cosine) — the
    * classic "customers also bought" neighborhood model. Extends
    * q117's order-blocked pair counting with per-item popularity
    * normalisation: sim(a,b) = cooc / √(n_a·n_b), then top-5
    * neighbours per item via a keyed window (WindowGroupLimit — no
    * global sort). Scale: the pair join is blocked on the order key
    * (pairs bounded by lines-per-order, never corpus-quadratic), the
    * popularity join is item-keyed, and cosine is one identically-
    * written double expression (√ is correctly-rounded IEEE in both
    * engines, so the hash compare is exact). The cooc ≥ 2 support
    * floor is A-priori's pruning — at 100 TB it also caps the
    * neighbourhood fan-out before the window. */
  def q174ItemCosine(s: SparkSession, dir: String): DataFrame = {
    // read by pop + both pair-join sides: persist or the scan+distinct
    // runs three times (q135's iterative-lineage lesson)
    val d = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("order_id"), col("l_partkey"))
      .distinct()
      .persist()
    val pop = d.groupBy(col("l_partkey").as("item"))
      .agg(count(lit(1)).as("n_item"))
    val a = d.select(col("order_id"), col("l_partkey").as("part_a"))
    val b = d.select(col("order_id"), col("l_partkey").as("part_b"))
    val cooc = a.join(b, Seq("order_id"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= 2)
    val sym = cooc.select(col("part_a").as("item"),
        col("part_b").as("other"), col("cooc"))
      .unionAll(cooc.select(col("part_b").as("item"),
        col("part_a").as("other"), col("cooc")))
    val scored = sym
      .join(pop, "item")
      .join(pop.select(col("item").as("other"),
        col("n_item").as("n_other")), "other")
      .withColumn("sim",
        (col("cooc").cast("double") /
          sqrt((col("n_item") * col("n_other")).cast("double")))
          .cast("double"))
    val w = Window.partitionBy("item")
      .orderBy(col("sim").desc, col("cooc").desc, col("other"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("item", "rank", "other", "cooc", "n_item", "n_other", "sim")
      .orderBy("item", "rank")
  }

  val queries: Map[String, Q] = Map(
    "q174_item_cosine" -> q174ItemCosine _,
    "q163_rfm" -> q163Rfm _,
    "q132_skyline" -> q132Skyline _,
    "q135_pagerank" -> q135PageRank _,
    "q141_join_size_est" -> q141JoinSizeEst _,
    "q142_bucket_reconcile" -> q142BucketReconcile _,
    "q125_radius_join" -> q125RadiusJoin _,
    "q95_value_range_frame" -> q95ValueRangeFrame _,
    "q117_basket_pairs" -> q117BasketPairs _,
    "q118_cohort_retention" -> q118CohortRetention _,
    "q96_map_ops" -> q96MapOps _,
    "q83_fuzzy_match" -> q83FuzzyMatch _,
    "q87_schema_drift_union" -> q87SchemaDriftUnion _,
    "q88_array_hof" -> q88ArrayHof _,
    "q89_window_dist" -> q89WindowDist _,
    "q90_snapshot_cdc" -> q90SnapshotCdc _,
    "q91_interval_overlap" -> q91IntervalOverlap _,
    "q92_ratio_to_report" -> q92RatioToReport _,
    "q66_window_nav" -> q66WindowNav _,
    "q67_string_kitchen" -> q67StringKitchen _,
    "q68_array_ops" -> q68ArrayOps _,
    "q69_above_segment_avg" -> q69AboveSegmentAvg _,
    "q72_null_semantics" -> q72NullSemantics _,
  )

  val oracles: Map[String, String] = Map(
    "q174_item_cosine" ->
      """WITH d AS (
        |  SELECT DISTINCT l_orderkey AS order_id, l_partkey FROM lineitem),
        |pop AS (
        |  SELECT l_partkey AS item, COUNT(*) AS n_item FROM d GROUP BY 1),
        |cooc AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    COUNT(*) AS cooc
        |  FROM d a JOIN d b USING (order_id)
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (
        |  SELECT part_a AS item, part_b AS other, cooc FROM cooc
        |  UNION ALL
        |  SELECT part_b AS item, part_a AS other, cooc FROM cooc),
        |scored AS (
        |  SELECT s.item, s.other, s.cooc,
        |    p1.n_item AS n_item, p2.n_item AS n_other,
        |    CAST(CAST(s.cooc AS DOUBLE)
        |      / sqrt(CAST(p1.n_item * p2.n_item AS DOUBLE)) AS DOUBLE) AS sim
        |  FROM sym s
        |  JOIN pop p1 ON s.item = p1.item
        |  JOIN pop p2 ON s.other = p2.item),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY item
        |    ORDER BY sim DESC, cooc DESC, other) AS rank
        |  FROM scored)
        |SELECT item, CAST(rank AS INTEGER) AS rank, other, cooc,
        |  n_item, n_other, sim
        |FROM r WHERE rank <= 5 ORDER BY item, rank""".stripMargin,
    "q163_rfm" ->
      """WITH cust AS (
        |  SELECT o_custkey AS customer_id,
        |    CAST(datediff('day', CAST(MAX(o_orderdate) AS DATE),
        |      DATE '2001-09-01') AS BIGINT) AS recency_days,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM cust),
        |rcut AS (
        |  SELECT
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.2 * n) AS BIGINT))
        |      THEN v END) AS c20,
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.4 * n) AS BIGINT))
        |      THEN v END) AS c40,
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.6 * n) AS BIGINT))
        |      THEN v END) AS c60,
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.8 * n) AS BIGINT))
        |      THEN v END) AS c80
        |  FROM (SELECT recency_days AS v,
        |    ROW_NUMBER() OVER (ORDER BY recency_days) AS rn FROM cust), nn),
        |fcut AS (
        |  SELECT
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.2 * n) AS BIGINT))
        |      THEN v END) AS c20,
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.4 * n) AS BIGINT))
        |      THEN v END) AS c40,
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.6 * n) AS BIGINT))
        |      THEN v END) AS c60,
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.8 * n) AS BIGINT))
        |      THEN v END) AS c80
        |  FROM (SELECT frequency AS v,
        |    ROW_NUMBER() OVER (ORDER BY frequency) AS rn FROM cust), nn),
        |mcut AS (
        |  SELECT
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.2 * n) AS BIGINT))
        |      THEN v END) AS c20,
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.4 * n) AS BIGINT))
        |      THEN v END) AS c40,
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.6 * n) AS BIGINT))
        |      THEN v END) AS c60,
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.8 * n) AS BIGINT))
        |      THEN v END) AS c80
        |  FROM (SELECT monetary_cents AS v,
        |    ROW_NUMBER() OVER (ORDER BY monetary_cents) AS rn FROM cust), nn),
        |scored AS (
        |  SELECT c.customer_id, c.recency_days, c.frequency, c.monetary_cents,
        |    CAST(6 - (CASE WHEN recency_days <= r.c20 THEN 1
        |      WHEN recency_days <= r.c40 THEN 2
        |      WHEN recency_days <= r.c60 THEN 3
        |      WHEN recency_days <= r.c80 THEN 4 ELSE 5 END) AS INTEGER)
        |      AS r_score,
        |    CAST(CASE WHEN frequency <= f.c20 THEN 1
        |      WHEN frequency <= f.c40 THEN 2
        |      WHEN frequency <= f.c60 THEN 3
        |      WHEN frequency <= f.c80 THEN 4 ELSE 5 END AS INTEGER) AS f_score,
        |    CAST(CASE WHEN monetary_cents <= m.c20 THEN 1
        |      WHEN monetary_cents <= m.c40 THEN 2
        |      WHEN monetary_cents <= m.c60 THEN 3
        |      WHEN monetary_cents <= m.c80 THEN 4 ELSE 5 END AS INTEGER)
        |      AS m_score
        |  FROM cust c CROSS JOIN rcut r CROSS JOIN fcut f CROSS JOIN mcut m)
        |SELECT customer_id, recency_days, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
        |      THEN 'champion'
        |    WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_returning'
        |    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
        |    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
        |    ELSE 'core' END AS segment
        |FROM scored ORDER BY customer_id""".stripMargin,
    "q141_join_size_est" ->
      """WITH c AS (
        |  SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT
        |    CAST(SUM(c * c) AS BIGINT) AS actual_pairs,
        |    CAST(SUM(CASE WHEN CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 12)
        |        AS BIGINT) % 16 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sampled_keys,
        |    CAST(SUM(CASE WHEN CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 12)
        |        AS BIGINT) % 16 = 0 THEN c * c ELSE 0 END) AS BIGINT) AS sample_pairs
        |  FROM c)
        |SELECT sampled_keys, sample_pairs,
        |  CAST(sample_pairs * 16 AS BIGINT) AS estimated_pairs, actual_pairs,
        |  CAST(CAST(sample_pairs * 16 AS DOUBLE) / CAST(actual_pairs AS DOUBLE)
        |    AS DOUBLE) AS est_ratio
        |FROM m""".stripMargin,
    "q142_bucket_reconcile" ->
      """WITH o AS (
        |  SELECT o_orderkey AS order_id,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS price_cents,
        |    o_orderstatus AS status
        |  FROM orders),
        |v1 AS (SELECT * FROM o WHERE order_id % 97 != 0),
        |v2 AS (SELECT order_id,
        |         CASE WHEN order_id % 61 = 0 THEN price_cents + 100
        |              ELSE price_cents END AS price_cents, status
        |       FROM o WHERE order_id % 89 != 0),
        |b1 AS (
        |  SELECT order_id % 64 AS bucket, COUNT(*) AS n_v1,
        |    CAST(SUM(CAST('0x' || substr(md5(order_id || '|' || price_cents
        |      || '|' || status), 1, 12) AS BIGINT)) AS BIGINT) AS sig_v1
        |  FROM v1 GROUP BY 1),
        |b2 AS (
        |  SELECT order_id % 64 AS bucket, COUNT(*) AS n_v2,
        |    CAST(SUM(CAST('0x' || substr(md5(order_id || '|' || price_cents
        |      || '|' || status), 1, 12) AS BIGINT)) AS BIGINT) AS sig_v2
        |  FROM v2 GROUP BY 1)
        |SELECT COALESCE(b1.bucket, b2.bucket) AS bucket,
        |  COALESCE(n_v1, 0) AS n_v1, COALESCE(n_v2, 0) AS n_v2,
        |  COALESCE(sig_v1, 0) AS sig_v1, COALESCE(sig_v2, 0) AS sig_v2,
        |  COALESCE(n_v1, 0) != COALESCE(n_v2, 0)
        |    OR COALESCE(sig_v1, 0) != COALESCE(sig_v2, 0) AS dirty
        |FROM b1 FULL JOIN b2 ON b1.bucket = b2.bucket
        |ORDER BY bucket""".stripMargin,
    "q132_skyline" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
        |pt AS (SELECT ts_us, MAX(value) AS mv FROM e GROUP BY 1),
        |pm AS (
        |  SELECT ts_us, mv,
        |    MAX(mv) OVER (ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lt
        |  FROM pt)
        |SELECT e.ts_us, e.event_id, e.user_id, e.value
        |FROM e JOIN pm ON pm.ts_us = e.ts_us
        |WHERE e.value = pm.mv AND (pm.m_lt IS NULL OR e.value > pm.m_lt)
        |ORDER BY e.ts_us, e.event_id""".stripMargin,
    "q135_pagerank" ->
      """WITH edges AS (
        |  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT src AS node FROM edges
        |          UNION SELECT dst FROM edges),
        |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst, SUM(((r.r * 85) // 100) // o.outdeg) AS m
        |       FROM edges e JOIN outdeg o USING (src)
        |       JOIN r0 r ON r.node = e.src GROUP BY 1),
        |r1 AS (SELECT n.node, CAST(150000000000 + COALESCE(c.m, 0) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c1 c ON c.dst = n.node),
        |c2 AS (SELECT e.dst, SUM(((r.r * 85) // 100) // o.outdeg) AS m
        |       FROM edges e JOIN outdeg o USING (src)
        |       JOIN r1 r ON r.node = e.src GROUP BY 1),
        |r2 AS (SELECT n.node, CAST(150000000000 + COALESCE(c.m, 0) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c2 c ON c.dst = n.node),
        |c3 AS (SELECT e.dst, SUM(((r.r * 85) // 100) // o.outdeg) AS m
        |       FROM edges e JOIN outdeg o USING (src)
        |       JOIN r2 r ON r.node = e.src GROUP BY 1),
        |r3 AS (SELECT n.node, CAST(150000000000 + COALESCE(c.m, 0) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c3 c ON c.dst = n.node)
        |SELECT node AS node_id, r AS rank_fp FROM r3
        |ORDER BY node_id""".stripMargin,
    // brute-force all-pairs reference: fine at oracle scale, and
    // equality with it IS the grid's losslessness claim
    "q125_radius_join" ->
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |    CAST(c_custkey % 1000 AS DOUBLE) / 100.0 AS lat,
        |    CAST(c_custkey * 7 % 1000 AS DOUBLE) / 100.0 AS lon
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  ROUND(sqrt((a.lat - b.lat) * (a.lat - b.lat)
        |           + (a.lon - b.lon) * (a.lon - b.lon)), 6) AS dist_deg
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE sqrt((a.lat - b.lat) * (a.lat - b.lat)
        |         + (a.lon - b.lon) * (a.lon - b.lon)) <= 0.15
        |ORDER BY id_a, id_b""".stripMargin,
    "q117_basket_pairs" ->
      """WITH d AS (
        |  SELECT DISTINCT l_orderkey AS order_id, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  COUNT(*) AS pair_count
        |FROM d a JOIN d b
        |  ON a.order_id = b.order_id AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY pair_count DESC, part_a, part_b
        |LIMIT 25""".stripMargin,
    "q118_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events),
        |c AS (
        |  SELECT user_id, MIN(week) AS cohort_week FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, week FROM e)
        |SELECT c.cohort_week,
        |  CAST((a.week - c.cohort_week) // 7 AS INTEGER) AS week_offset,
        |  COUNT(DISTINCT a.user_id) AS active_users
        |FROM a JOIN c ON c.user_id = a.user_id
        |WHERE a.week >= c.cohort_week
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q96_map_ops" ->
      """WITH c AS (
        |  SELECT o_custkey AS customer_id, o_orderstatus AS status,
        |         COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2)
        |SELECT customer_id,
        |  CAST(COUNT(*) AS INTEGER) AS distinct_statuses,
        |  MAX(CASE WHEN status = 'F' THEN cnt END) AS fulfilled_count,
        |  string_agg(status || '=' || cnt, ',' ORDER BY status) AS status_counts
        |FROM c GROUP BY customer_id ORDER BY customer_id""".stripMargin,
    "q95_value_range_frame" ->
      """WITH o AS (
        |  SELECT o_orderkey AS order_id, o_custkey AS customer_id, o_totalprice,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_l
        |  FROM orders)
        |SELECT order_id, customer_id, o_totalprice,
        |  COUNT(*) OVER w AS near_price_orders,
        |  CAST(SUM(price_l) OVER w AS DOUBLE) / 100.0 AS near_price_revenue
        |FROM o
        |WINDOW w AS (PARTITION BY customer_id ORDER BY price_l
        |             RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING)
        |ORDER BY order_id""".stripMargin,
    "q91_interval_overlap" ->
      """WITH li AS (
        |  SELECT l_orderkey AS order_id, l_linenumber AS line_no,
        |    CAST(l_shipdate AS DATE) AS ship,
        |    CAST(l_shipdate AS DATE) + (CAST(l_quantity AS INTEGER) % 20) AS receipt
        |  FROM lineitem)
        |SELECT a.order_id, a.line_no AS line_a, b.line_no AS line_b,
        |  CAST(least(a.receipt, b.receipt) - greatest(a.ship, b.ship)
        |       AS INTEGER) + 1 AS overlap_days
        |FROM li a JOIN li b
        |  ON a.order_id = b.order_id AND a.line_no < b.line_no
        |WHERE a.ship <= b.receipt AND b.ship <= a.receipt
        |ORDER BY a.order_id, line_a, line_b""".stripMargin,
    "q92_ratio_to_report" ->
      """WITH g AS (
        |  SELECT o_orderpriority AS priority, o_orderstatus AS status,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders GROUP BY 1, 2)
        |SELECT priority, status, CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(rev_dec AS DOUBLE) /
        |    CAST(SUM(rev_dec) OVER (PARTITION BY priority) AS DOUBLE) AS priority_share
        |FROM g ORDER BY priority, status""".stripMargin,
    "q90_snapshot_cdc" ->
      """WITH v1 AS (
        |  SELECT o_orderkey AS order_id, o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 7 != 0),
        |v2 AS (
        |  SELECT o_orderkey AS order_id,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 5 != 0),
        |j AS (
        |  SELECT COALESCE(v1.order_id, v2.order_id) AS order_id,
        |    v1.price AS price_before, v2.price AS price_after,
        |    v1.order_id IS NOT NULL AS bp, v2.order_id IS NOT NULL AS ap
        |  FROM v1 FULL OUTER JOIN v2 ON v1.order_id = v2.order_id)
        |SELECT order_id,
        |  CASE WHEN NOT bp THEN 'insert' WHEN NOT ap THEN 'delete'
        |       ELSE 'update' END AS op,
        |  price_before, price_after
        |FROM j
        |WHERE NOT bp OR NOT ap OR price_before IS DISTINCT FROM price_after
        |ORDER BY order_id""".stripMargin,
    "q89_window_dist" ->
      """SELECT o_orderkey AS order_id, o_custkey AS customer_id, o_totalprice,
        |  percent_rank() OVER w AS spend_pct_rank,
        |  cume_dist() OVER w AS spend_cume_dist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY order_id""".stripMargin,
    "q88_array_hof" ->
      """WITH q AS (
        |  SELECT l_orderkey AS order_id,
        |    list_sort(list(CAST(l_quantity AS BIGINT))) AS qtys
        |  FROM lineitem GROUP BY 1)
        |SELECT order_id,
        |  CAST(len(qtys) AS INTEGER) AS item_count,
        |  CAST(list_sum(qtys) AS BIGINT) AS total_qty,
        |  CAST(len(list_filter(qtys, x -> x >= 30)) AS INTEGER) AS big_items,
        |  CAST(list_sum(list_transform(qtys, x -> x * x)) AS BIGINT) AS sum_sq
        |FROM q ORDER BY order_id""".stripMargin,
    "q87_schema_drift_union" ->
      """SELECT o_orderkey AS order_id, o_custkey AS customer_id,
        |  o_totalprice AS revenue, NULL AS priority
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 2 != 0
        |ORDER BY order_id""".stripMargin,
    "q83_fuzzy_match" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_name FROM part)
        |SELECT a.p_brand AS brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_distance,
        |  CASE WHEN levenshtein(a.p_name, b.p_name) = 0 THEN 'exact'
        |       ELSE 'fuzzy' END AS match_tier
        |FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY brand, key_a, key_b""".stripMargin,
    "q66_window_nav" ->
      """SELECT o_orderkey AS order_id, o_custkey AS customer_id,
        |  CAST(o_orderdate AS DATE) AS order_date, o_totalprice,
        |  CAST(RANK() OVER w AS INTEGER) AS order_rank,
        |  CAST(DENSE_RANK() OVER w AS INTEGER) AS order_dense_rank,
        |  CAST(NTILE(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS spend_quartile,
        |  strftime(LEAD(CAST(o_orderdate AS DATE), 1) OVER w, '%Y-%m-%d') AS next_order_date,
        |  FIRST_VALUE(CAST(o_orderdate AS DATE)) OVER wf AS first_order_date,
        |  LAST_VALUE(CAST(o_orderdate AS DATE)) OVER wf AS last_order_date
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY order_id""".stripMargin,
    "q67_string_kitchen" ->
      """SELECT p_partkey AS part_id,
        |  lpad(p_brand, 12, '_') AS brand_padded,
        |  rpad(p_type, 10, '.') AS type_padded,
        |  reverse(p_name) AS name_reversed,
        |  translate(p_name, 'aeiou', 'AEIOU') AS name_vowels_upper,
        |  repeat(p_brand, 2) AS brand_doubled,
        |  upper(p_name) AS name_upper,
        |  CAST(strpos(p_name, ' ') AS INTEGER) AS space_pos,
        |  split_part(p_type, 'E', 1) AS type_before_e,
        |  ltrim(rtrim('  ' || p_brand || '  ')) AS trimmed
        |FROM part ORDER BY part_id""".stripMargin,
    "q68_array_ops" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), ' +') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(t) AS INTEGER) AS n_tokens,
        |  array_to_string(list_sort(list_distinct(t)), ' ') AS vocab_sorted,
        |  array_to_string(t[1:3], ' ') AS first_three,
        |  list_contains(t, 'spark') AS has_spark,
        |  CAST(COALESCE(list_position(t, 'the'), 0) AS BIGINT) AS first_the_pos,
        |  t[-1] AS last_token,
        |  CAST(len(list_filter(t, x -> x != 'the')) AS INTEGER) AS tokens_without_the
        |FROM t ORDER BY doc_id""".stripMargin,
    "q69_above_segment_avg" ->
      """SELECT c_custkey AS customer_id, c_mktsegment AS segment,
        |  c_acctbal AS balance,
        |  round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
        |      OVER (PARTITION BY c_mktsegment) AS DOUBLE)
        |    / COUNT(*) OVER (PARTITION BY c_mktsegment), 6) AS segment_avg
        |FROM customer
        |QUALIFY c_acctbal > CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
        |    OVER (PARTITION BY c_mktsegment) AS DOUBLE)
        |  / COUNT(*) OVER (PARTITION BY c_mktsegment)
        |ORDER BY customer_id""".stripMargin,
    "q72_null_semantics" ->
      """WITH n AS (
        |  SELECT o_orderkey AS order_id,
        |    NULLIF(o_orderstatus, 'P') AS status_n,
        |    NULLIF(o_orderpriority, '5-LOW') AS prio_n
        |  FROM orders)
        |SELECT order_id,
        |  status_n IS NOT DISTINCT FROM prio_n AS both_null_or_equal,
        |  COALESCE(status_n, prio_n, 'ALL_NULL') AS first_non_null,
        |  status_n IS NULL AS status_is_null,
        |  CASE WHEN status_n IS NOT NULL AND prio_n IS NOT NULL THEN 'both'
        |       WHEN status_n IS NOT NULL OR prio_n IS NOT NULL THEN 'one'
        |       ELSE 'neither' END AS presence
        |FROM n ORDER BY order_id""".stripMargin,
  )
}
