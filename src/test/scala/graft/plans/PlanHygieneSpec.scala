package graft.plans

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan police: the scale claims in PLANS.md, enforced as a test.
  * Every registered query's physical plan is scanned for the three
  * shapes that do not survive a 100× scale-up — CartesianProduct,
  * BroadcastNestedLoopJoin, and an unpartitioned WindowExec — and any
  * occurrence must be on the documented allowlist below. A new query
  * that accidentally plans a cross join or a global window fails CI
  * here, not in production.
  */
class PlanHygieneSpec extends SparkSpec {

  /** Queries whose flagged shape is deliberate and bounded. The test
    * is exact in both directions: an undocumented offender fails, and
    * a stale allowlist entry (no longer flagged) also fails — the
    * list cannot rot. */
  private val allow: Map[String, String] = Map(
    // 1-row aggregate scalars cross-joined back (gate thresholds):
    // both sides are single rows by construction
    "q07_row_count_anomaly" -> "cross join of two 1-row aggregates",
    // datasheet: the corpus-stats and contamination-stats 1-row
    // aggregates crossed to build the metric rows (q07 idiom)
    "q221_corpus_datasheet" -> "cross join of two 1-row aggregates",
    // (q223_shuffle_stability's 1-row stats cross still runs, but
    // inside the call — the result is collected eagerly so its
    // persist can be released — so the RETURNED plan is a local
    // 1-row relation and needs no entry here)
    "q54_quality_filter" -> "broadcast of a 1-row percentile cut",
    "q20_zscore_anomaly" -> "broadcast of a 1-row moments aggregate",
    "q113_heavy_hitters" -> "broadcast of the 1-row (sketch, n) aggregate",
    // brute-force scorers: the broadcast side is the bounded query
    // set — the contract of top-k search (PLANS.md)
    "q49_cosine_topk" -> "broadcast query set vs corpus (exact baseline)",
    // q235 embeds q49's budgeted exact leg as the metric sheet's ideal
    "q235_retrieval_eval_auto" -> "broadcast query slice vs corpus (budgeted exact ideal)",
    // (q75 and q216 probed a broadcast codebook by |Q|·k cross join
    // until their probes went through the graft_ivf_top projection —
    // no cross join left)
    // (q119/q127 probed the same broadcast codebook until round 7
    // routed their coarse stages through graft_ivf_top/_l2 —
    // no cross joins left in either plan)
    // PQ-ADC scan: broadcast query distance tables vs corpus codes —
    // the compressed form of q49's bounded-query-set brute force
    "q101_pq_ann" -> "ADC scan (broadcast query dist tables vs codes)",
    // truncated-dim shortlist: broadcast query heads vs corpus heads —
    // the matryoshka variant of the same bounded-query-set scan
    "q103_truncated_ann" -> "head-dim scan (broadcast query heads)",
    // binary-code Hamming scan: broadcast 16-byte query codes vs
    // corpus codes — the 1-bit variant of the same scan
    "q110_binary_ann" -> "Hamming scan (broadcast query sign codes)",
    // funnel stage 1 is the same Hamming scan; stages 2-3 are keyed
    // equi-joins on the shortlist
    "q111_funnel_ann" -> "Hamming scan (broadcast query sign codes)",
    // both RRF retrievers are the bounded-query-set broadcast scan;
    // fusion itself is a keyed equi-join
    "q112_hybrid_rrf" -> "two bounded-query-set retriever scans (RRF)",
    // broadcast range join against a 12-row month dimension — the
    // right shape when the range side is a bounded dim (q13 is the
    // keyed as-of alternative for unbounded right sides)
    "q33_range_join" -> "broadcast range join vs 12-row month dim",
    // post-aggregation windows over driver-sized frames (≤ ~30 rows)
    "q25_trailing_avg" -> "trailing window over a 30-row daily aggregate",
    // cumulative vocabulary over the fixed 8-row shard dimension —
    // both inputs are post-aggregation 8-row frames
    "q277_shard_vocab_curve" -> "cumulative window over the 8-row shard dimension",
    // sketch-pair cross: |groups|^2 rows of k-hash summaries, both
    // sides post-aggregation (3 statuses here)
    "q82_kmv_overlap" -> "cross join of per-group sketch summaries",
    // Hamilton apportionment over the |sources|-row count aggregate:
    // the remainder-rank window and the 1-row total/leftover crosses
    // all run post-aggregation; the corpus-sized work is one keyed
    // WindowGroupLimit pick
    "q124_quota_apportion" -> "apportionment math over |sources|-row aggregate",
    // contingency-table math over the |langs|·|sources|-row cell
    // aggregate: the 1-row totals cross and the chi2-sum cross both
    // run post-aggregation (q07's idiom); marginal windows are keyed
    "q137_chi_square" -> "totals crosses over the bounded cell aggregate",
    // same contingency pass collapsed to one summary row
    "q191_cramers_v" -> "totals crosses over the bounded cell aggregate",
    // |sources|×|langs| support grid from the two marginal aggregates
    // plus the 1-row total cross — all post-aggregation, q137's idiom
    "q190_source_divergence" -> "marginal-grid crosses (bounded alphabets)",
    // 1-row total cross over the 9-digit aggregate (q07 idiom)
    "q145_benford" -> "1-row total cross over the 9-digit aggregate",
    // 64-register summary crossed with the 1-row exact count (q07
    // idiom); both sides post-aggregation
    "q149_hll_registers" -> "1-row register-summary x exact-count cross",
    // point aggregate x sorted replicate-means array (q07 idiom);
    // both sides 1 row, the 40-replicate fan-out itself is an explode
    "q165_bootstrap_ci" -> "1-row point x replicate-means cross",
    // ECDF grid: distinct-lengths aggregate x the |langs| dim (5
    // rows broadcast) — bounded by the length domain and the lang
    // set, never the corpus (q137's cell-grid idiom)
    "q175_ks_drift" -> "value-grid cross vs |langs|-row dim",
    // composes q49's exact baseline — the same bounded-query-set
    // broadcast scan; the metric math itself is keyed
    "q179_retrieval_eval" -> "exact-baseline scan (bounded query set)",
    // joint-histogram cell-grid self-join (~49×25 cells squared),
    // post-aggregation and bounded by the two score domains, plus
    // the 1-row C/D x ties crosses (q07 idiom)
    "q180_kendall_tau" -> "cell-grid pair join over joint histogram",
    // PAV-minimax interval grid: |distinct scores|² pairs (≤49² here)
    // plus the index/prefix windows, ALL over the driver-sized score
    // aggregate (q25's idiom) — bounded by the score domain
    "q177_isotonic" -> "interval grid + windows over score aggregate",
    // rank assignment over the post-limit 50-row top-k result — the
    // corpus-sized pick itself is a TakeOrderedAndProject
    "q197_bm25" -> "rank window over the 50-row post-limit result",
    // the two 1-row token-total aggregates crossed back (q07 idiom);
    // the 256-bin distributions join keyed on the bucket
    "q198_dsir_weights" -> "1-row raw/target total crosses",
    // the 1-row bigram-type-count cross (q07 idiom); all other model
    // quantities join keyed on grams
    "q201_kneser_ney" -> "1-row bigram-type-count cross",
    // 50-depth grid crossed with the ≤100-row union of two post-limit
    // top-50 rank sets (+ their post-limit rank windows) — k²-bounded
    "q202_rbo" -> "depth grid over post-limit rank sets",
    // (round 13: q205_hits left this list — its max-normalization
    // cross is now a driver-collected literal, so no BNLJ remains)
    // cumulative window over the distinct-value cell aggregate —
    // value-domain-bounded, post-aggregation (q177's idiom)
    "q206_mann_whitney" -> "cumulative window over value-domain cells",
    // duration-domain cell windows + the 1-row obs-end/total crosses
    "q207_kaplan_meier" -> "cell windows + 1-row obs-end/total crosses",
    // the 1-row corpus-token-total and weight-total crosses (q07
    // idiom); the source aggregate itself is |sources|-bounded
    "q211_mixture_weights" -> "1-row token/weight-total crosses",
    // SQ8 ADC: q49's bounded-query-set broadcast scan against the
    // reconstructed corpus codes
    "q265_sq8_ann" -> "ADC scan (broadcast query set vs reconstructed codes)",
    // contrastive mining: the same budgeted anchor-slice broadcast
    // scan; the per-role pick is a keyed WindowGroupLimit
    "q270_contrastive_mining" -> "broadcast anchor slice vs corpus (budgeted mining scan)",
    // pick-rank window over the 5-row config aggregate (q25 idiom)
    "q272_lsh_tuner" -> "rank window over the 5-row config aggregate",
    // the ALL row's 1-row totals cross (q07 idiom)
    "q276_class_scatter" -> "1-row totals cross for the ALL scatter row",
  )

  private def offenders(plan: SparkPlan): Seq[String] = plan.collect {
    case _: CartesianProductExec => "CartesianProduct"
    case _: BroadcastNestedLoopJoinExec => "BroadcastNestedLoopJoin"
    case w: WindowExec if w.partitionSpec.isEmpty => "UnpartitionedWindow"
  }

  test("no undocumented cartesian/BNLJ/global-window in any query plan") {
    val flagged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val found = offenders(fn(spark, sfDir).queryExecution.sparkPlan).distinct
        if (found.isEmpty) Nil else Seq(name -> found)
    }.toMap
    val undocumented = (flagged.keySet -- allow.keySet).toSeq.sorted
      .map(n => s"$n: ${flagged(n).mkString(", ")}")
    val stale = (allow.keySet -- flagged.keySet).toSeq.sorted
    assert(undocumented.isEmpty,
      s"undocumented scale-hostile plan shapes:\n${undocumented.mkString("\n")}")
    assert(stale.isEmpty, s"stale allowlist entries (no longer flagged): $stale")
    flagged.toSeq.sortBy(_._1).foreach { case (n, f) =>
      info(s"$n: ${f.mkString(", ")} — ${allow(n)}")
    }
  }
}
