package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg, "Authoritative Sources in a
  * Hyperlinked Environment", JACM 1999) on a bipartite edge set, in
  * EXACT INTEGER fixed-point arithmetic — the q188 power-iteration
  * discipline applied to link analysis: every iteration is
  *   a(p) = Σ_{(h,p)∈E} h(h)   then   a ← a·10⁶ div max(a)
  *   h(c) = Σ_{(c,p)∈E} a(p)   then   h ← h·10⁶ div max(h)
  * with Long sums and truncating integer division, so any SQL engine
  * replays the identical trajectory bit-exactly (no float
  * normalization to diverge on). Convergence to the principal
  * singular directions is the usual power-method story; correctness
  * never depends on it — both engines run the same fixed rounds.
  *
  * Scale: each round is two keyed join+agg shuffles over the edge
  * set; scores live on nodes (broadcastable below ~10⁸ nodes, keyed
  * joins beyond). The normalizing max is a 1-row aggregate crossed
  * back (q07 idiom). Lineage is CUT every round (Lineage.cut — the
  * q203 rule; a round reads its parent twice, so plans would grow
  * 2^rounds without it).
  *
  * Overflow: scores ≤ 10⁶ after each normalization; a sum over a
  * node's degree d is ≤ d·10⁶, and the ·10⁶ renormalization step
  * holds below 2⁶³ for d up to ~9·10⁶ — beyond that, shift the scale
  * constant down (documented ceiling, not a silent wrap).
  */
object Hits {

  private val Scale = 1000000L

  /** Run `rounds` HITS iterations over bipartite edges (hub, auth).
    * Returns (hubs DF: id, score) and (auths DF: id, score).
    *
    * Per half-round, the ONE edge-sized join is materialized exactly
    * once: the RAW sum is what gets checkpointed (normalize reads its
    * parent twice for the 1-row max cross, so cutting the raw — not
    * the normalized — table keeps the big join single-execution), and
    * the node-score side joins via an explicit broadcast (scores are
    * node-sized; the 600k-edge table never shuffles). Measured at
    * sf0.1: both fixes took 12 rounds from 10.5 s to 8.6 s — the
    * residual floor is per-round job overhead (2 joins + 2 eager
    * checkpoints), linear in rounds, so callers pick the smallest
    * round count their convergence needs (q205 uses 8). The
    * broadcast puts a ~10⁸-node ceiling on the score table; beyond
    * that drop the hint and the join degrades to keyed shuffles, not
    * wrong answers. */
  def run(edges: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    import Lineage.cut
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds): " +
      "authorities are only defined after the first half-round")
    val e = cut(edges.select(col("hub"), col("auth")).distinct())
    var hubs = cut(e.select(col("hub").as("id")).distinct()
      .withColumn("score", lit(Scale)))
    var auths: DataFrame = null
    var r = 0
    while (r < rounds) {
      val aRaw = cut(e.join(broadcast(hubs.withColumnRenamed("id", "hub")), "hub")
        .groupBy(col("auth").as("id")).agg(sum("score").as("raw")))
      auths = normalize(aRaw)
      val hRaw = cut(e.join(broadcast(auths.withColumnRenamed("id", "auth")), "auth")
        .groupBy(col("hub").as("id")).agg(sum("score").as("raw")))
      hubs = normalize(hRaw)
      r += 1
    }
    (hubs, auths)
  }

  /** `run` with early exit at the integer fixpoint: stops after the
    * first round whose hub AND authority score tables are unchanged
    * (exact Long equality — fixed-point arithmetic makes "converged"
    * a crisp predicate, no float tolerance). Output at the exit round
    * is identical to `run(edges, exitRound)` by construction (same
    * loop body), spec'd in HitsSpec. Returns (hubs, auths, rounds
    * actually run). The check is one node-sized join+agg per round —
    * cheap next to the two edge-sized half-round joins — so callers
    * no longer tune round counts per corpus; oracle query q205 keeps
    * fixed rounds for DuckDB replay parity. */
  def runConverged(edges: DataFrame, maxRounds: Int): (DataFrame, DataFrame, Int) = {
    import Lineage.cut
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    val e = cut(edges.select(col("hub"), col("auth")).distinct())
    var hubs = cut(e.select(col("hub").as("id")).distinct()
      .withColumn("score", lit(Scale)))
    var auths: DataFrame = null
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val prevHubs = hubs
      val prevAuths = auths
      val aRaw = cut(e.join(broadcast(hubs.withColumnRenamed("id", "hub")), "hub")
        .groupBy(col("auth").as("id")).agg(sum("score").as("raw")))
      auths = normalize(aRaw)
      val hRaw = cut(e.join(broadcast(auths.withColumnRenamed("id", "auth")), "auth")
        .groupBy(col("hub").as("id")).agg(sum("score").as("raw")))
      hubs = normalize(hRaw)
      r += 1
      if (prevAuths != null)
        converged = unchanged(prevHubs, hubs) && unchanged(prevAuths, auths)
    }
    (hubs, auths, r)
  }

  /** True iff the two (id, score) tables are identical — node-sized
    * full-outer join, mismatch count == 0. */
  private def unchanged(prev: DataFrame, cur: DataFrame): Boolean =
    prev.withColumnRenamed("score", "prev_score")
      .join(cur, Seq("id"), "full_outer")
      .where(col("prev_score").isNull || col("score").isNull ||
        col("prev_score") =!= col("score"))
      .limit(1).count() == 0L

  /** score = raw·10⁶ div max(raw) — the integer renormalization.
    *
    * The max is collected to the DRIVER as a 1-row scalar and folded
    * in as a literal (round 13, guide §2.4): the previous
    * crossJoin(agg(max)) form planned a BroadcastNestedLoopJoin per
    * half-round — a broadcast exchange + an extra read of `raw` INSIDE
    * every downstream job that evaluated the normalized frame (the
    * next half-round's broadcast collect, the checkpoint, the final
    * output), 16 of them per q205 run. `raw` is always checkpointed by
    * the caller before normalize (the cut-the-raw rule in [[run]]'s
    * scaladoc), so the head() is one node-sized scan of materialized
    * blocks — same collect class as the 1-row gate scalars (q102) and
    * P-row stitches (SuffixRank) this repo already bounds.
    * Arithmetic is unchanged (same `* Scale DIV max` Long expression,
    * max now a literal), so the fixed-point trajectory — and the
    * oracle replay — is bit-identical.
    *
    * Precondition, enforced: `raw` must be a checkpointed (or locally
    * checkpointed) frame. An un-checkpointed one would re-execute its
    * whole upstream lineage for the head() and again for every
    * consumer of the result. */
  private[operators] def normalize(raw: DataFrame): DataFrame = {
    require(raw.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.isCheckpointed
      case _ => false
    }, "Hits.normalize needs a checkpointed frame (Lineage.cut)")
    val row = raw.agg(max(col("raw"))).head()
    val mx = if (row.isNullAt(0)) 1L else row.getLong(0)
    raw.select(col("id"), expr(s"raw * $Scale DIV $mx").as("score"))
  }
}
