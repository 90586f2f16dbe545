package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream interval join: enrich each call event with the tower
  * probes observed in the window leading up to the call — the
  * streaming version of the q60 tower-utilization correlation
  * (reference joins calls to probe aggregates in batch,
  * agg_tower_hourly_utilization.sql:114-137; here the enrichment
  * happens in flight).
  *
  * Scale/state design: both sides carry watermarks and the join
  * condition bounds probe_ts to [call_ts − tolerance, call_ts], so
  * Spark derives state-eviction horizons for BOTH sides — state per
  * tower is bounded by tolerance × arrival rate, never unbounded.
  * The same kernel runs in batch (withWatermark is a no-op there),
  * which is what the parity spec asserts.
  */
object StreamEnrich {

  /** Stream-static enrichment: every micro-batch joins the (bounded)
    * tower dimension map-side via broadcast — no stream-side shuffle,
    * no state. Left join keeps events from unknown towers (they flow
    * through with null dim columns for downstream quarantine rather
    * than vanishing). The static side is re-resolved per batch, so a
    * dim refresh is picked up without restarting the query. */
  def callsWithTowerDim(calls: DataFrame, towers: DataFrame): DataFrame =
    calls.join(broadcast(towers), Seq("tower_id"), "left")

  def callsWithTowerLoad(calls: DataFrame, probes: DataFrame,
                         tolerance: String = "10 minutes",
                         lateness: String = "30 seconds"): DataFrame = {
    val c = calls.withWatermark("call_ts", lateness)
    val p = probes
      .withColumnRenamed("tower_id", "probe_tower_id")
      .withWatermark("probe_ts", lateness)
    c.join(p,
        c("tower_id") === p("probe_tower_id") &&
          p("probe_ts") >= c("call_ts") - expr(s"INTERVAL $tolerance") &&
          p("probe_ts") <= c("call_ts"))
      .select(col("event_id"), col("tower_id"), col("call_ts"),
        col("probe_ts"), col("load_pct"))
  }

  /** BATCH face of [[callsWithTowerLoad]] with the interval join
    * binned into an equi-join (round 13, guide §3.3 exploding joins +
    * §2.5 hot keys): the raw form equi-joins on tower_id alone — a
    * low-cardinality key, so the sort-merge join GENERATES every
    * (call, probe) pair of a tower and only then applies the time
    * range as a post-join filter: O(|calls_t| · |probes_t|) pair work
    * per tower, growing quadratically with retention at any scale,
    * concentrated on as few tasks as there are towers. Binning probes
    * by floor(probe_ts / tolerance) and exploding each call to its
    * own bucket and the one before makes the join key
    * (tower_id, bucket): a probe in [call_ts − tolerance, call_ts]
    * always lies in one of those two buckets (lossless cover, and a
    * probe's bucket is unique so no pair is emitted twice), so the
    * join generates only pairs within ±tolerance and the key gains
    * time cardinality — no per-tower hot reducer. The identical range
    * predicate still applies post-join; results are row-identical to
    * the interval form (StreamEnrichSpec pins it; the q261 oracle
    * replays the raw interval join in SQL). Batch-only: the streaming
    * face keeps the interval-join form — the range condition on the
    * join itself is what gives Spark BOTH state-eviction horizons. */
  def callsWithTowerLoadBinned(calls: DataFrame, probes: DataFrame,
                               toleranceSecs: Long): DataFrame = {
    // the two-bucket cover needs a positive bin width: 0 divides every
    // bucket key by zero — reject it when the plan is built
    require(toleranceSecs > 0, s"toleranceSecs must be positive, got $toleranceSecs")
    val tolUs = toleranceSecs * 1000000L
    val c = calls
      .withColumn("_cus", unix_micros(col("call_ts")))
      .withColumn("_bk",
        explode(array(expr(s"_cus DIV $tolUs") - 1L, expr(s"_cus DIV $tolUs"))))
    val p = probes
      .withColumnRenamed("tower_id", "probe_tower_id")
      .withColumn("_pus", unix_micros(col("probe_ts")))
      .withColumn("_bk", expr(s"_pus DIV $tolUs"))
    c.join(p,
        c("tower_id") === p("probe_tower_id") && c("_bk") === p("_bk") &&
          p("_pus") >= c("_cus") - lit(tolUs) && p("_pus") <= c("_cus"))
      .select(col("event_id"), col("tower_id"), col("call_ts"),
        col("probe_ts"), col("load_pct"))
  }
}
