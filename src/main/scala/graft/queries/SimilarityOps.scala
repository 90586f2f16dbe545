package graft.queries

import graft.Tables
import graft.operators.{IvfIndex, Pca, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (Array[Float], 64-d).
  * The oracle-checked path quantizes to integer milli-units so dot
  * products are exact in both engines (see operators.Similarity).
  */
object SimilarityOps {

  type Q = (SparkSession, String) => DataFrame

  private[queries] def quantized(s: SparkSession, dir: String): DataFrame =
    // every ANN query in this module and ScaleOps starts here; queries
    // that never read `label` have it pruned
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        Similarity.quantize(col("embedding")).as("query_vec"))

  private def querySet(c: DataFrame): DataFrame =
    c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))

  /** Fixed query budget for the exact brute-force baseline (q49).
    * The round-6 sweep measured e≈1.3 for the unbudgeted form — the
    * query set itself grows with the corpus, so queries × corpus is
    * quadratic by construction. Capping the queries at a fixed,
    * deterministically md5-sampled slice bounds the scorer at
    * budget × corpus dot products: one broadcast scan regardless of
    * scale, which is exactly how a recall ground truth is run on a
    * production corpus (sampled queries, full corpus). */
  val ExactBaselineBudget = 64

  /** The md5-ranked first `budget` queries of the vec_id%10 universe:
    * a deterministic pseudo-random slice both engines can derive
    * (lowercase-hex md5 of the decimal vec_id string, ties broken by
    * vec_id). orderBy+limit compiles to TakeOrderedAndProject — a
    * per-partition top-B then a B-row merge, no global sort. */
  private[queries] def querySetSampled(c: DataFrame, budget: Int): DataFrame =
    querySet(c)
      .orderBy(md5(col("query_id").cast("string")), col("query_id"))
      .limit(budget)
      .select(col("query_id"), col("qvec"))

  /** Query cap for the FIXED-16 IVF contrast family (q75/q216/q119,
    * round-8 verdict item 3 — the q49 sampled-contract treatment).
    * The fixed codebook is the pedagogical point these queries keep:
    * at 16 lists, per-query candidate work is ~nprobe/16 of the
    * CORPUS, growing linearly where the auto-⌈√n⌉ family's stays
    * ~√n — but serving that growing scan to a corpus-proportional
    * query set made the family the suite's only quadratic+spilling
    * members (measured e≈1.85-2.10, 8-13 GB spill at sf10, r7). The
    * md5-sampled budget bounds the query set exactly like q49's
    * recall baseline, so the remaining growth IS the occupancy
    * contrast: budget × n/4 scoring, linear, spill-free. */
  val FixedIvfQueryBudget = 64

  /** q265 — SCALAR-QUANTIZED (SQ8) ANN, the missing rung of the
    * FAISS compression ladder between full precision (q49) and PQ
    * codes (q101): each dimension is independently quantized to an
    * 8-bit code against per-dim [min,max] bounds (one d-row agg
    * collected as the quantizer — bounded by dimension, never data;
    * 4× smaller vectors than the milli-unit longs), and scoring is
    * ASYMMETRIC (ADC): full-precision queries against integer-
    * reconstructed corpus codes, the Jégou et al. 2011 §III trick
    * that keeps quantization error one-sided. Every step is integer
    * floor arithmetic + one exact double division, so the oracle
    * replays code assignment, reconstruction, and ranking exactly —
    * the recall-vs-exact rider lives in SimilaritySpec. */
  def q265Sq8Ann(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val st = c.select(posexplode(col("query_vec")).as(Seq("pos", "v")))
      .groupBy("pos").agg(min("v").as("mn"), max("v").as("mx"))
      .orderBy("pos").collect()
    val mn = st.map(r => r.getLong(1))
    val span = st.map(r => math.max(r.getLong(2) - r.getLong(1), 1L))
    val mnL = array(mn.toIndexedSeq.map(lit): _*)
    val spL = array(span.toIndexedSeq.map(lit): _*)
    val recon = transform(col("query_vec"), (v, i) => {
      val m = get(mnL, i)
      val w = get(spL, i)
      val code = floor(((v - m) * lit(255L)) / w) // exact: spans < 2^26
      m + floor((code * w) / lit(255L))
    })
    val reconCorpus = c.select(col("vec_id"), col("label"),
      recon.as("query_vec"))
    Similarity.bruteForceTopK(reconCorpus,
        querySetSampled(c, ExactBaselineBudget), k = 5)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("cosine"), col("label"))
      .orderBy("query_id", "rank")
  }

  /** q270 — CONTRASTIVE PAIR MINING (the training-data face of the
    * ANN ladder: metric-learning pipelines mine, per anchor, its
    * positive and its HARDEST negatives — the highest-similarity
    * wrong-label neighbors, Schroff et al. 2015 §3.2 semi-hard
    * mining, batch-offline form): for the budgeted md5-sampled
    * anchor slice, rank the corpus per (anchor, role) where role
    * splits on label agreement; keep the top positive and the top-3
    * hard negatives. Budget × corpus broadcast scan — same linear
    * scale shape as q49 — with one WindowGroupLimit rank per role. */
  def q270ContrastiveMining(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val anchors = querySetSampled(c, ExactBaselineBudget)
      .join(c.select(col("vec_id").as("query_id"), col("label").as("anchor_label")),
        "query_id")
    val c2 = c.withColumn("_n2c",
      Similarity.dotFast(col("query_vec"), col("query_vec")))
    val q2 = anchors.withColumn("_n2q",
      Similarity.dotFast(col("qvec"), col("qvec")))
    val scored = c2.crossJoin(broadcast(q2))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", Similarity.cosineOnNorms(col("query_vec"), col("qvec"),
        col("_n2c"), col("_n2q")))
      .withColumn("role",
        when(col("label") === col("anchor_label"), "positive")
          .otherwise("negative"))
    val w = Window.partitionBy("query_id", "role")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter((col("role") === "positive" && col("rk") <= 1) ||
        (col("role") === "negative" && col("rk") <= 3))
      .select(col("query_id").as("anchor_id"), col("anchor_label"),
        col("role"), col("rk").cast("int").as("rk"),
        col("vec_id"), col("label"), col("cosine"))
      .orderBy("anchor_id", "role", "rk")
  }

  /** q276 — CLASS-SCATTER panel (Fisher/LDA separability moments of
    * the embedding space per label — the standard "are my labels
    * actually separable in this representation" audit before
    * training a probe, Fisher 1936 / Murphy PML §9.2.6): per label,
    * the exact integer moments (count, Σ‖v‖², ‖Σv‖²) and the
    * within-class scatter ssq − ‖s‖²/n; the ALL row carries the
    * total scatter, so between-class = ALL.within − Σ label.within
    * is reader-derivable without cross-label double sums (each row's
    * only float ops are its own two — deterministic cross-engine).
    * Scale shape: the PCA moment-cell idiom — one (label, pos)-keyed
    * aggregate over the exploded vectors (|labels|·d cells), then
    * |labels|-row arithmetic; no driver collect, no d² matrix. */
  def q276ClassScatter(s: SparkSession, dir: String): DataFrame = {
    val base = quantized(s, dir).select(col("label"), col("query_vec"))
      .withColumn("n2", Similarity.dotFast(col("query_vec"), col("query_vec")))
    val cells = base
      .select(col("label"), posexplode(col("query_vec")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(sum(col("x")).as("sv"))
    val perLabel = base.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum(col("n2")).as("ssq"))
      .join(cells.groupBy("label").agg(sum(col("sv") * col("sv")).as("s_norm2")),
        "label")
      .select(col("label").cast("string").as("label"),
        col("n_vecs"), col("ssq"), col("s_norm2"))
    val globalRow = perLabel.agg(
        sum(col("n_vecs")).as("n_vecs"), sum(col("ssq")).as("ssq"))
      .crossJoin(
        cells.groupBy("pos").agg(sum(col("sv")).as("gv"))
          .agg(sum(col("gv") * col("gv")).as("s_norm2")))
      .select(lit("ALL").as("label"), col("n_vecs"), col("ssq"), col("s_norm2"))
    perLabel.unionAll(globalRow)
      .withColumn("within_scatter",
        col("ssq").cast("double") -
          col("s_norm2").cast("double") / col("n_vecs").cast("double"))
      .orderBy("label")
  }

  /** Exact cosine top-5 over the full corpus for a fixed-budget,
    * md5-sampled query slice (ExactBaselineBudget queries) — the
    * recall ground truth for the ANN ladder, runnable at any corpus
    * scale: cost is budget × corpus, a single broadcast scan. The
    * full-query-set variant survives in q179's metric sheet and the
    * SimilaritySpec recall harness. */
  def q49CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    Similarity.bruteForceTopK(c, querySetSampled(c, ExactBaselineBudget), k = 5)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("cosine"), col("label"))
      .orderBy("query_id", "rank")
  }

  /** SRP-LSH bucketed ANN top-5 with the same query set, plus no
    * oracle (hash-seeded hyperplanes) — recall is measured against
    * q49 in the AnnRecallSpec test. */
  def q50AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val ps = Similarity.planes(32, 64)
    Similarity.annTopK(c, querySet(c), k = 5, ps, bands = 8, bitsPerBand = 4)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Corpus-scaled SRP ANN (Similarity.annTopKAuto): bits-per-band
    * derived from the corpus count so bucket occupancy — hence
    * per-query candidate work — stays constant as the corpus grows
    * (the documented fix for q80's measured resolution ceiling),
    * with 2-probe recall recovery. The 256-plane pool (two 128-plane
    * tiers; tier 0 is the historical pool, bit-identical below 17
    * bits) lifts the band-bit cap from 16 to 32, so the occupancy
    * design point holds to ~1.7e11 vectors instead of saturating at
    * 2.6M (the round-11 sf100 find). The oracle derives the identical
    * bit count from COUNT(*) in pure integer arithmetic and replays
    * the same tiered 16-aligned slices of the shared pool literal. */
  def q215AnnAutoTopK(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val n = Tables.rowCount(s, dir, "embeddings")
    // knownQ: the vec_id%10 query universe is ~n/10 rows — the bound
    // that gates the query-vector broadcast (annTopK estQueries)
    Similarity.annTopKAuto(c, querySet(c), k = 5, Similarity.planes(256, 64),
        knownN = n, knownQ = n / 10 + 1)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Tier-1 SRP retrieval, oracle-checked (round-11 verdict item 1):
    * the 256-plane pool lifts the band-bit cap from 16 to 32, but no
    * committed corpus is big enough to DERIVE bits ≥ 17 naturally
    * (that needs n > 40·2^16 ≈ 2.6M vectors), so the tiered regime's
    * retrieval — signatures drawing tier-1 planes, bucket matching on
    * >16-bit keys, probe flips — had only slice-arithmetic evidence.
    * This query pins bits = 18 via annTopKAuto's forceBits hook:
    * bands read 16 bits from tier 0 plus 2 from tier 1, and the
    * DuckDB oracle replays the identical tiered index arithmetic
    * ((p // 128)·16 + p % 16 < 18) from the same 256-plane literal.
    * At 18 bits every committed corpus is hyper-sparse (occupancy
    * ≪ 1), so surviving candidates are genuine near-neighbors that
    * agree on 18 hyperplane signs in some band — the regime the cap
    * lift exists for, exercised end to end. Recall behavior at tier-1
    * resolution is separately pinned by SimilaritySpec's planted
    * near-dup harness.
    *
    * The query set is the [[FixedIvfQueryBudget]] md5 slice, NOT the
    * corpus-proportional vec_id%10 universe q215 keeps: pinning the
    * resolution makes this a FIXED-RESOLUTION index by construction
    * (occupancy tracks n), so corpus-proportional load reproduces
    * q80's documented quadratic candidate growth (first committed
    * form measured e_shuffle 2.2-2.6 over two decades) and says
    * nothing new about the tiered plane path. A bounded query batch
    * is also the production serving shape, and it keeps every
    * tier-1 mechanism — full-corpus 18-bit signatures, bucket
    * matching on >16-bit keys, probe flips, oracle replay — while
    * the candidate volume stays budget × occupancy, linear in n. */
  def q279AnnTier1(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val n = Tables.rowCount(s, dir, "embeddings")
    Similarity.annTopKAuto(c, querySetSampled(c, FixedIvfQueryBudget),
        k = 5, Similarity.planes(256, 64),
        knownN = n, knownQ = FixedIvfQueryBudget, forceBits = 18)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** SERVED auto-IVF (round-11 verdict item 4): q228's ⌈√n⌉-codebook
    * search answered from the PERSISTED IvfIndex instead of
    * re-deriving codebook + assignment per query — the production
    * serving shape (build once, query many). The inline auto family
    * carries d3 wall e ≈ 1.28-1.46 because every call pays the
    * n·√n assignment scan; here that cost is amortized into the
    * index build (isValid-gated: done once per corpus generation),
    * and a query batch reads only its probed cid partitions. The
    * query set is the q216-style md5 budget slice (a production
    * query batch is bounded; a corpus-proportional one is the
    * inline contrast q228 keeps). The oracle derives the SAME ⌈√n⌉
    * md5 codebook, assignment, probes, and scores inline — a hash
    * match certifies the index round-trip (write codebook +
    * cid-partitioned lists, read back, prune, score) loses nothing
    * vs the inline algorithm, q216's certification pattern at the
    * auto codebook scale. */
  def q280IvfAutoServed(s: SparkSession, dir: String): DataFrame =
    servedIvfTopK(s, dir, auto = true)

  /** Persisted-IVF-index search (operators.IvfIndex): build once into
    * (gitignored) target/, then answer from the cid-partitioned
    * inverted lists with static partition pruning — same parameters
    * and bit-identical results as q75's build-inline ivfTopK, so it
    * shares q75's oracle verbatim: the hash match certifies that the
    * index round-trip (write codebook + lists, read back, prune,
    * score) loses nothing. */
  def q216IvfIndexTopK(s: SparkSession, dir: String): DataFrame =
    servedIvfTopK(s, dir, auto = false)

  /** The persisted index q216 (16 lists) or q280 (`auto`: ⌈√n⌉
    * lists) serves from, under target/: its path, built first unless
    * a completed build of this corpus is already there. Reuse gates on
    * the completion marker + corpus fingerprint, not bare directory
    * existence: an aborted prior build or regenerated source data at
    * the same path forces a rebuild instead of silently serving
    * stale/partial lists. */
  private def servedIvfIndex(s: SparkSession, dir: String, auto: Boolean): String = {
    val n = Tables.rowCount(s, dir, "embeddings")
    val numC = if (auto) math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt) else 16
    val path = (if (auto) "target/graft_ivf_auto/" else "target/graft_ivf/") +
      dir.replaceAll("[^A-Za-z0-9._-]", "_")
    if (!IvfIndex.isValid(s, path, n, numC)) IvfIndex.build(quantized(s, dir), numC, path)
    path
  }

  /** Build both served indexes (Bench's warm-up), so the timed q216
    * and q280 measure serving, in a fresh checkout too. */
  private[graft] def warmIndexes(s: SparkSession, dir: String): Unit =
    Seq(false, true).foreach(servedIvfIndex(s, dir, _))

  private def servedIvfTopK(s: SparkSession, dir: String, auto: Boolean): DataFrame =
    IvfIndex.topK(s, servedIvfIndex(s, dir, auto),
        querySetSampled(quantized(s, dir), FixedIvfQueryBudget), k = 5, nprobe = 4)
      .orderBy("query_id", "rank")

  /** Per-label embedding statistics on exact integer norms. */
  def q51EmbeddingStats(s: SparkSession, dir: String): DataFrame =
    quantized(s, dir)
      .withColumn("norm2", Similarity.dotQ(col("query_vec"), col("query_vec")))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("vec_count"),
        sum(col("norm2")).as("sum_norm2"),
        min(col("norm2")).as("min_norm2"),
        max(col("norm2")).as("max_norm2"),
        (sum(col("norm2")).cast("double") / count(lit(1))).cast("double").as("avg_norm2"))
      .orderBy("label")

  /** Embedding near-duplicate pairs among consecutive vec_ids —
    * the exact-cosine verify kernel, oracle-checked; LSH candidate
    * generation for the full corpus is q50's machinery. */
  def q52EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val a = c.select(col("vec_id").as("id_a"), col("query_vec").as("va"))
    val b = c.select(col("vec_id").as("id_b"), col("query_vec").as("vb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .withColumn("cosine", Similarity.cosineQ(col("va"), col("vb")))
      .select(col("id_a"), col("id_b"), col("cosine"),
        (col("cosine") >= 0.9).as("is_near_dup"))
      .orderBy("id_a")
  }

  /** IVF-flat ANN with a deterministic md5-picked codebook (16 lists,
    * 4 probes) over the [[FixedIvfQueryBudget]]-sampled query slice —
    * the fixed-resolution contrast baseline for q228's auto-⌈√n⌉
    * codebook (list occupancy grows linearly at fixed list count;
    * the budget keeps that measurable without the quadratic
    * query-load multiplier). The oracle rebuilds the identical index
    * from the same md5 draw and derives the same query slice. */
  def q75IvfAnn(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    Similarity.ivfTopK(c, querySetSampled(c, FixedIvfQueryBudget),
        k = 5, numCentroids = 16, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  /** Auto-scaled IVF-flat (Similarity.ivfTopKAuto): ⌈√n⌉ inverted
    * lists derived from the corpus count, assignment and probing as
    * native single-projection expressions, top-k under
    * WindowGroupLimit. The scale-safe member of the IVF family —
    * q75/q216 keep the fixed-16 pedagogical configuration (measured
    * quadratic with 8-13 GB spill at sf10 in r7 when serving
    * corpus-proportional queries; budget-capped per the q49 contract
    * since round 8, so the linear occupancy growth remains the
    * measured contrast); this is the configuration a 100 TB corpus
    * actually runs, at the documented n^1.5 IVF asymptote under
    * corpus-proportional query load (the sub-n^1.5 alternatives are
    * q215's constant-occupancy SRP and the q46 LSH family). The oracle derives the identical ⌈√n⌉ from
    * COUNT(*) and replays the same md5 codebook draw. */
  def q228IvfAutoAnn(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    Similarity.ivfTopKAuto(c, querySet(c), k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  /** Multi-probe SRP-LSH ANN: q50's index, but each query also probes
    * the 1-bit-neighbor buckets per band — recall rises with zero
    * extra index memory (see Similarity.annTopK multiProbe). */
  def q80MultiprobeAnn(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val ps = Similarity.planes(32, 64)
    Similarity.annTopK(c, querySet(c), k = 5, ps, bands = 8, bitsPerBand = 4,
      multiProbe = 4)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** log2(rank+1) DCG discounts, rank 1..5, computed ONCE in Scala
    * and shared verbatim with the oracle string (Double.toString
    * round-trips, so DuckDB parses the identical double) — the
    * log2-between-engines trap (different libm last-ulps) never
    * arises because neither engine calls log at query time. */
  private val dcgDiscounts: IndexedSeq[Double] =
    (1 to 5).map(i => math.log(i + 1.0) / math.log(2.0))

  /** Retrieval-quality evaluation of the SRP-LSH path against the
    * exact baseline, per query: reciprocal rank of the true nearest
    * neighbour in the ANN list, and nDCG@5 with exact-cosine gains —
    * the metric sheet a retrieval stack publishes next to q166's
    * recall curve. Both ranked lists come from the already-oracled
    * q49/q50 machinery; DCG folds run over rank-sorted ≤5-element
    * arrays (deterministic summation order, q164's idiom), so every
    * double is bit-identical cross-engine. Scale: composition of two
    * bounded-query-set scans + keyed joins; the metric math is
    * per-query scan-speed array work. */
  def q179RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    // full query universe (not q49's budgeted slice): the metric
    // sheet pairs each ANN query with its exact ideal, so the exact
    // leg must cover every ANN query; at corpus scale this query
    // rides the same sampled contract by shrinking the universe.
    val corpus = quantized(s, dir)
    val exact = Similarity.bruteForceTopK(corpus, querySet(corpus), k = 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
    val ann = q50AnnTopK(s, dir)
    retrievalMetrics(exact, ann)
  }

  /** The metric tail shared by q179/q235: per-query MRR + nDCG@5
    * from a ranked exact ideal and a ranked ANN list (both keyed
    * (query_id, rank, vec_id, cosine)). DCG folds run over
    * rank-sorted ≤5-element arrays — deterministic summation order,
    * bit-identical cross-engine (see dcgDiscounts). */
  private def retrievalMetrics(exact: DataFrame, ann: DataFrame): DataFrame = {
    val disc = array(dcgDiscounts.map(lit): _*)
    def dcg(df: DataFrame, out: String): DataFrame =
      df.groupBy("query_id").agg(
        aggregate(
          sort_array(collect_list(struct(col("rank"), col("cosine")))),
          lit(0.0),
          (a, x) => a + x.getField("cosine") /
            element_at(disc, x.getField("rank"))).as(out))
    val idcg = dcg(exact, "idcg")
    val adcg = dcg(ann, "dcg")
    val top1 = exact.filter(col("rank") === 1)
      .select(col("query_id"), col("vec_id"))
    val rr = top1
      .join(ann.select(col("query_id"), col("vec_id"),
        col("rank").as("hit_rank")), Seq("query_id", "vec_id"), "left")
      .select(col("query_id"),
        coalesce(lit(1.0) / col("hit_rank"), lit(0.0)).as("rr"))
    idcg.join(adcg, Seq("query_id"), "left").join(rr, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("rr"), lit(0.0)).as("rr"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        col("idcg"),
        (coalesce(col("dcg"), lit(0.0)) / col("idcg")).as("ndcg"))
      .orderBy("query_id")
  }

  /** q179's metric sheet for the SCALE PATH: auto-IVF (q228's exact
    * configuration) evaluated against the budgeted exact baseline on
    * q49's md5-sampled query slice — the evaluation a production
    * corpus actually runs (sampled queries, full corpus, both legs
    * linear-bounded). q179 keeps the full-universe variant as the
    * small-scale reference. */
  def q235RetrievalEvalAuto(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val slice = querySetSampled(corpus, ExactBaselineBudget)
    val exact = Similarity.bruteForceTopK(corpus, slice, k = 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
    val ann = Similarity.ivfTopKAuto(corpus, slice, k = 5, nprobe = 4)
    retrievalMetrics(exact, ann)
  }

  /** Per-label centroid SUM vectors as exact integers: explode to
    * (label, dim, val) — q109's keyed shuffle shape, n·d rows —
    * then one (label, dim) aggregation and re-assembly in dim order.
    * Cosine against the SUM equals cosine against the mean (scale
    * invariance), so no division ever touches the vector. */
  private def labelSums(c: DataFrame): DataFrame = {
    c.select(col("label"), posexplode(col("query_vec")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(sum(col("v")).as("sv"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("sv")))).as("a"))
      .select(col("label"),
        transform(col("a"), x => x.getField("sv")).as("svec"))
  }

  /** Label-noise detection: the 5 vectors per label FARTHEST (lowest
    * cosine) from their own label's centroid — the mislabeled-
    * embedding audit a curation pipeline runs before training on
    * weak labels. Centroid sums stay integer (labelSums); cosine is
    * sqrt-separated (√‖v‖²·√‖S‖², NOT √(‖v‖²·‖S‖²) — the product
    * form overflows past 2⁵³ already at modest label sizes) so every
    * double is one identical IEEE expression. Scale: n·d keyed
    * shuffle + broadcast of |labels| sum vectors + keyed bottom-5
    * window. ‖S‖² holds in BIGINT while n·max|v| < 3·10⁹ per label
    * (~10⁶ vectors at milli-quantization); beyond that the dim sums
    * upgrade to DECIMAL. */
  def q183LabelOutliers(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val sums = labelSums(c)
    val scored = c.join(broadcast(sums), "label")
      .withColumn("cos_centroid",
        Similarity.dotQ(col("query_vec"), col("svec")).cast("double") /
          (sqrt(Similarity.dotQ(col("query_vec"), col("query_vec"))
            .cast("double")) *
            sqrt(Similarity.dotQ(col("svec"), col("svec")).cast("double"))))
    val w = Window.partitionBy("label")
      .orderBy(col("cos_centroid"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("label"), col("rank"), col("vec_id"),
        col("cos_centroid").cast("double").as("cos_centroid"))
      .orderBy("label", "rank")
  }

  /** Per-label embedding diversity WITHOUT materialising pairs: mean
    * pairwise dot = (‖Σv‖² − Σ‖v‖²) / (n·(n−1)) — the norm identity
    * turns an O(n²) statistic into one n·d pass plus the integer
    * centroid sums. All terms exact BIGINT (vectors are near unit
    * norm, so the dot scale reads as cosine); only the final mean
    * divides. The audit that catches a collapsed (all-same) or
    * over-dispersed source before it trains. */
  def q184EmbeddingDiversity(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val perVec = c.select(col("label"),
      Similarity.dotQ(col("query_vec"), col("query_vec")).as("n2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("n2")).as("sum_norm2"))
    val sums = labelSums(c)
      .select(col("label"),
        Similarity.dotQ(col("svec"), col("svec")).as("centroid_norm2"))
    perVec.join(sums, "label")
      .select(col("label"), col("n"), col("sum_norm2"),
        col("centroid_norm2"),
        (col("centroid_norm2") - col("sum_norm2")).as("pair_dot_num"),
        // a single-vector label has no pairs: NULL, not 0/0 (Spark's
        // ANSI mode aborts on it; DuckDB would emit NaN)
        when(col("n") > 1,
          (col("centroid_norm2") - col("sum_norm2")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double"))
          .as("mean_pair_dot"))
      .orderBy("label")
  }

  /** Density-based outlier detection: each vector's 5th-nearest-
    * neighbour cosine (the kNN-distance density score), with
    * neighbours drawn from the SRP-LSH buckets — vectors in sparse
    * regions have few bucket-mates and a low 5th-NN cosine, and
    * bucket emptiness is itself the strongest sparsity signal (n_nn
    * carries it; absent vectors surface via the left join with
    * n_nn = 0). Unlike q50 this is SELF-kNN, so the index join is
    * the SYMMETRIC bucket equi-join — no broadcast side; the whole
    * corpus cannot be broadcast at 100 TB. Top-20 sparsest by
    * (n_nn, knn5_cos NULLS FIRST, vec_id) — fully tie-broken. */
  def q185DensityOutliers(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val ps = Similarity.planes(32, 64)
    val keys = c.select(col("vec_id"),
        posexplode(Similarity.srpBandKeys(col("query_vec"), ps, 8, 4, Similarity.dotFast)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bkey"))
    val cand = keys
      .join(keys.select(col("vec_id").as("nb_id"), col("band"),
        col("bkey")), Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("nb_id"))
      .select("vec_id", "nb_id").distinct()
    val c2 = c.select(col("vec_id"), col("query_vec"),
      Similarity.dotFast(col("query_vec"), col("query_vec")).as("_n2"))
    val scored = cand
      .join(c2.select(col("vec_id"), col("query_vec").as("va"),
        col("_n2").as("n2a")), "vec_id")
      .join(c2.select(col("vec_id").as("nb_id"),
        col("query_vec").as("vb"), col("_n2").as("n2b")), "nb_id")
      .withColumn("cosine",
        Similarity.dotFast(col("va"), col("vb")).cast("double") /
          sqrt((col("n2a") * col("n2b")).cast("double")))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("nb_id"))
    val knn = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_nn"),
        when(count(lit(1)) === 5, min(col("cosine"))).as("knn5_cos"))
    c.select(col("vec_id"))
      .join(knn, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n_nn"), lit(0L)).as("n_nn"),
        col("knn5_cos").cast("double").as("knn5_cos"))
      .orderBy(col("n_nn"), col("knn5_cos").asc_nulls_first, col("vec_id"))
      .limit(20)
  }

  /** Embedding dimension of the fixtures (TESTDATA.md). */
  private val Dim = 64

  /** Power-iteration rounds for q188/q189 — at the fixtures' nearly
    * isotropic spectrum (λ₁/λ₂ ≈ 1.01–1.07) this reaches a Rayleigh
    * quotient ≥ ~0.98·λ₁ at every SF (PcaSpec pins it vs a Jacobi
    * eigensolve); the iteration itself is exactly replayed by the
    * oracle, so correctness never depends on convergence. */
  private val PowerIters = 120

  /** Exact second-moment cells of the quantized embedding matrix:
    * one row per upper-triangle dimension pair (d_i ≤ d_j) with
    * (n, s_i, s_j, s_ij) — the sufficient statistics for covariance,
    * whitening, and the PCA solve, all BIGINT-exact. Scale: the only
    * shuffle is bounded by partitions × d² (map-side combine over
    * the generator output), independent of corpus size. */
  def q187EmbeddingCov(s: SparkSession, dir: String): DataFrame =
    Pca.momentCells(quantized(s, dir).select(col("query_vec")),
        "query_vec", Dim)
      .orderBy("d_i", "d_j")

  /** Session-scoped memo of the fitted principal direction, keyed by
    * (data dir, file stamp): q188 and q189 share ONE moment pass +
    * eigen solve per input instead of re-fitting the identical model each (round-8
    * verdict item 5 — the family replayed the same 120-iteration
    * fixed-point solve three times per suite run). The cached state
    * is the MODEL, not data: Dim longs per dir, the same bounded
    * model-collect idiom as the IVF codebook. q187 stays uncached —
    * it IS the timed distributed face of the moment pass, and its
    * output is the sufficient statistics themselves. */
  /** At most ONE entry per dir survives: the value carries the stamp
    * it was fitted under and is REPLACED on mismatch, so a long
    * sweep/test session that regenerates the same dir many times
    * holds one model per dir, not one per regeneration (round-9
    * advice — the (dir, stamp) key leaked an entry per rebuild). */
  private val directionCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Array[Long])]()

  /** Driver-side stamp of the embeddings table's FILES — an
    * order-independent sum over (name, length, mtime) per file. Keys
    * the direction memo so a corpus regenerated at the SAME dir
    * within one JVM (a sweep run overwriting target/sf1, a fixture
    * rebuild in a long test session) misses the memo instead of
    * projecting with a stale principal direction while the oracle
    * refits from the new data (round-8 advice). Pure file-metadata
    * listing, no Spark job — microseconds next to the moment pass it
    * guards. */
  private def corpusStamp(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var h = 0L
    while (it.hasNext) {
      val f = it.next()
      h += (f.getPath.getName.hashCode.toLong * 1099511628211L +
        f.getLen) * 31L + f.getModificationTime
    }
    h
  }

  private def topDirection(s: SparkSession, dir: String): Array[Long] = {
    val stamp = corpusStamp(s, dir)
    directionCache.compute(dir, (_, cur) =>
      if (cur != null && cur._1 == stamp) cur
      else {
        val cells = Pca.momentCells(quantized(s, dir).select(col("query_vec")),
            "query_vec", Dim)
          .collect()
          .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5)))
        (stamp, Pca.fixedPointTopDirection(cells, Dim, PowerIters))
      })._2
  }

  /** Dominant principal direction by FIXED-POINT integer power
    * iteration (Pca.fixedPointTopDirection). Like the IVF codebook
    * and k-means centroids, this is eager model fitting at build
    * time: the data-sized moment pass is distributed (q187's plan);
    * the d×d solve collects d(d+1)/2 cells — a size set by the
    * embedding width, not the corpus — and loops on the driver. The
    * oracle replays the identical integer recurrence as an unrolled
    * CTE chain, so the vector is bit-exact cross-engine. */
  def q188PcaPower(s: SparkSession, dir: String): DataFrame = {
    val v = topDirection(s, dir)
    import s.implicits._
    v.zipWithIndex.map { case (x, d) => (d.toLong, x) }.toSeq
      .toDF("dim", "v_fp")
      .orderBy("dim")
  }

  /** Projection of every embedding onto q188's principal direction —
    * the 1-d PCA score a curation pipeline uses for spread/outlier
    * work. score_fp = Σ qᵢ·vᵢ is an exact integer dot against the
    * broadcast direction literal (scan-speed, no shuffle at all
    * before the output sort); `score` normalizes by ‖v‖ in one
    * double expression written identically in both engines. */
  def q189PcaProject(s: SparkSession, dir: String): DataFrame = {
    val v = topDirection(s, dir)
    val n2 = v.map(x => x * x).sum
    require(n2 > 0L, "degenerate PCA direction (all-zero)")
    val vlit = array(v.map(lit): _*)
    quantized(s, dir)
      .select(col("vec_id"), col("label"),
        Similarity.dotQ(col("query_vec"), vlit).as("score_fp"))
      .withColumn("score",
        (col("score_fp").cast("double") /
          sqrt(lit(n2).cast("double"))).cast("double"))
      .orderBy("vec_id")
  }

  val queries: Map[String, Q] = Map(
    "q187_embedding_cov" -> q187EmbeddingCov _,
    "q188_pca_power" -> q188PcaPower _,
    "q189_pca_project" -> q189PcaProject _,
    "q185_density_outliers" -> q185DensityOutliers _,
    "q183_label_outliers" -> q183LabelOutliers _,
    "q184_embedding_diversity" -> q184EmbeddingDiversity _,
    "q179_retrieval_eval" -> q179RetrievalEval _,
    "q235_retrieval_eval_auto" -> q235RetrievalEvalAuto _,
    "q49_cosine_topk" -> q49CosineTopK _,
    "q265_sq8_ann" -> q265Sq8Ann _,
    "q270_contrastive_mining" -> q270ContrastiveMining _,
    "q276_class_scatter" -> q276ClassScatter _,
    "q80_multiprobe_ann" -> q80MultiprobeAnn _,
    "q50_ann_topk" -> q50AnnTopK _,
    "q51_embedding_stats" -> q51EmbeddingStats _,
    "q52_embedding_neardup" -> q52EmbeddingNearDup _,
    "q75_ivf_ann" -> q75IvfAnn _,
    "q228_ivf_auto" -> q228IvfAutoAnn _,
    "q215_ann_auto" -> q215AnnAutoTopK _,
    "q216_ivf_index" -> q216IvfIndexTopK _,
    "q279_ann_tier1" -> q279AnnTier1 _,
    "q280_ivf_auto_served" -> q280IvfAutoServed _,
  )

  /** Double.toString round-trips, so these literals parse back to
    * the identical doubles Spark uses via lit(). */
  private val discList: String = dcgDiscounts.mkString(", ")

  private val qv =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS DOUBLE))"

  /** BIGINT variant of the quantizer for the exact-integer PCA path. */
  private val qvBig =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** Shared WITH-body for the PCA oracles: quantized vectors →
    * integer moments → scaled centered covariance → LCG start →
    * PowerIters unrolled (matvec, renormalize) levels replaying
    * Pca.fixedPointTopDirection verbatim. Every per-level CTE is
    * MATERIALIZED: wK is referenced twice (value + max), and
    * inlining the chain goes exponential without it. DuckDB `//` on
    * the ABS-decomposed values is the same truncating division the
    * Scala loop uses, so the integer sequences are identical. */
  private def pcaPowerCtes: String = {
    val chain = (1 to PowerIters).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS MATERIALIZED (SELECT cb.di AS d, CAST(SUM(cb.c * pv.v) AS BIGINT) AS w
         |  FROM cb JOIN $prev pv ON pv.d = cb.dj GROUP BY 1),
         |v$k AS MATERIALIZED (SELECT d, CASE WHEN w >= 0 THEN ABS(w) // dv ELSE -(ABS(w) // dv) END AS v
         |  FROM (SELECT d, w, GREATEST(MAX(ABS(w)) OVER (), 1) // 1000000 + 1 AS dv FROM w$k))""".stripMargin
    }.mkString(",\n")
    s"""q AS MATERIALIZED (SELECT vec_id, label, $qvBig AS v FROM embeddings),
       |m AS MATERIALIZED (SELECT dd.d AS d, CAST(SUM(v[dd.d + 1]) AS BIGINT) AS s, COUNT(*) AS n
       |  FROM q, range(0, 64) dd(d) GROUP BY 1),
       |cells AS MATERIALIZED (
       |  SELECT ii.i AS di, jj.j AS dj, CAST(SUM(v[ii.i + 1] * v[jj.j + 1]) AS BIGINT) AS sij
       |  FROM q, range(0, 64) ii(i), range(0, 64) jj(j) GROUP BY 1, 2),
       |cov AS MATERIALIZED (SELECT di, dj, CAST(mi.n * c.sij - mi.s * mj.s AS BIGINT) AS cv
       |  FROM cells c JOIN m mi ON mi.d = c.di JOIN m mj ON mj.d = c.dj),
       |cb AS MATERIALIZED (SELECT di, dj, CASE WHEN cv >= 0
       |    THEN ABS(cv) // ((SELECT MAX(ABS(cv)) FROM cov) // 1000000 + 1)
       |    ELSE -(ABS(cv) // ((SELECT MAX(ABS(cv)) FROM cov) // 1000000 + 1))
       |  END AS c FROM cov),
       |v0 AS (SELECT dd.d AS d, CAST((1103515245 * dd.d + 12345) % 2000001 - 1000000 AS BIGINT) AS v
       |  FROM range(0, 64) dd(d)),
       |$chain""".stripMargin
  }

  /** The 32×64 ±1 SRP hyperplane matrix is generated from a fixed
    * seed, so it is a compile-time-known constant — embed it verbatim
    * as a VALUES literal and the oracle replays the exact bucketing:
    * plane p belongs to band p/4 with bit weight 2^(p%4), a key bit
    * is set iff dot(v, plane) > 0 (integer dots — exact as doubles). */
  private val planesValues: String =
    Similarity.planes(32, 64).zipWithIndex
      .map { case (row, p) => s"($p, [${row.mkString(",")}])" }
      .mkString(",\n  ")

  /** 256-plane pool (two tiers of 8 bands x 16-bit blocks) for the
    * q215 oracle — the same seed-42 pool annTopKAuto slices at
    * runtime. Plane index p decomposes as tier = p // 128,
    * band = (p % 128) // 16, bit = tier*16 + p % 16 — tier 0 is the
    * historical 128-plane pool verbatim (the seeded generator is
    * prefix-stable), so results below 17 band bits are unchanged. */
  private val pool256Values: String =
    Similarity.planes(256, 64).zipWithIndex
      .map { case (row, p) => s"($p, [${row.mkString(",")}])" }
      .mkString(",\n  ")

  private val oraclesBase: Map[String, String] = Map(
    "q187_embedding_cov" ->
      s"""WITH q AS MATERIALIZED (SELECT $qvBig AS v FROM embeddings),
         |m AS MATERIALIZED (SELECT dd.d AS d, CAST(SUM(v[dd.d + 1]) AS BIGINT) AS s, COUNT(*) AS n
         |  FROM q, range(0, 64) dd(d) GROUP BY 1),
         |cells AS MATERIALIZED (
         |  SELECT ii.i AS d_i, jj.j AS d_j, CAST(SUM(v[ii.i + 1] * v[jj.j + 1]) AS BIGINT) AS s_ij
         |  FROM q, range(0, 64) ii(i), range(0, 64) jj(j)
         |  WHERE jj.j >= ii.i GROUP BY 1, 2)
         |SELECT c.d_i, c.d_j, mi.n AS n, mi.s AS s_i, mj.s AS s_j, c.s_ij
         |FROM cells c JOIN m mi ON mi.d = c.d_i JOIN m mj ON mj.d = c.d_j
         |ORDER BY d_i, d_j""".stripMargin,
    "q188_pca_power" ->
      s"""WITH $pcaPowerCtes
         |SELECT CAST(d AS BIGINT) AS dim, v AS v_fp
         |FROM v$PowerIters ORDER BY dim""".stripMargin,
    "q189_pca_project" ->
      s"""WITH $pcaPowerCtes,
         |proj AS (
         |  SELECT q.vec_id, q.label,
         |    CAST(SUM(q.v[t.d + 1] * vec.v) AS BIGINT) AS score_fp
         |  FROM q, range(0, 64) t(d) JOIN v$PowerIters vec ON vec.d = t.d
         |  GROUP BY 1, 2),
         |nrm AS (SELECT CAST(SUM(v * v) AS BIGINT) AS n2 FROM v$PowerIters)
         |SELECT vec_id, label, score_fp,
         |  CAST(CAST(score_fp AS DOUBLE)
         |    / sqrt(CAST((SELECT n2 FROM nrm) AS DOUBLE)) AS DOUBLE) AS score
         |FROM proj ORDER BY vec_id""".stripMargin,
    "q185_density_outliers" ->
      s"""WITH planes(p, s) AS (VALUES
         |  $planesValues),
         |e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |sigs AS (
         |  SELECT e.vec_id, pl.p // 4 AS band,
         |    CAST(SUM(CASE WHEN list_dot_product(e.v,
         |        list_transform(pl.s, x -> CAST(x AS DOUBLE))) > 0
         |      THEN 1 << (pl.p % 4) ELSE 0 END) AS BIGINT) AS bkey
         |  FROM e, planes pl GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id, b.vec_id AS nb_id
         |  FROM sigs a JOIN sigs b ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE a.vec_id != b.vec_id),
         |scored AS (
         |  SELECT cand.vec_id, cand.nb_id,
         |    CAST(list_dot_product(va.v, vb.v) /
         |      sqrt(list_dot_product(va.v, va.v)
         |        * list_dot_product(vb.v, vb.v)) AS DOUBLE) AS cosine
         |  FROM cand
         |  JOIN e va ON va.vec_id = cand.vec_id
         |  JOIN e vb ON vb.vec_id = cand.nb_id),
         |r5 AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY cosine DESC, nb_id) AS rank
         |    FROM scored)
         |  WHERE rank <= 5),
         |knn AS (
         |  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_nn,
         |    CASE WHEN COUNT(*) = 5 THEN MIN(cosine) END AS knn5_cos
         |  FROM r5 GROUP BY 1)
         |SELECT ev.vec_id, COALESCE(k.n_nn, 0) AS n_nn,
         |  CAST(k.knn5_cos AS DOUBLE) AS knn5_cos
         |FROM (SELECT vec_id FROM embeddings) ev
         |LEFT JOIN knn k USING (vec_id)
         |ORDER BY n_nn, knn5_cos ASC NULLS FIRST, ev.vec_id
         |LIMIT 20""".stripMargin,
    "q183_label_outliers" ->
      s"""WITH e AS (SELECT vec_id, label, $qv AS v FROM embeddings),
         |sums AS (
         |  SELECT label, pos, SUM(v[pos]) AS sv
         |  FROM e, (SELECT unnest(range(1, 65)) AS pos) p
         |  GROUP BY 1, 2),
         |svec AS (SELECT label, list(sv ORDER BY pos) AS s
         |  FROM sums GROUP BY 1),
         |scored AS (
         |  SELECT e.vec_id, e.label,
         |    CAST(list_dot_product(e.v, s.s)
         |      / (sqrt(list_dot_product(e.v, e.v))
         |         * sqrt(list_dot_product(s.s, s.s))) AS DOUBLE)
         |      AS cos_centroid
         |  FROM e JOIN svec s USING (label))
         |SELECT label, CAST(rank AS INTEGER) AS rank, vec_id,
         |  cos_centroid
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY label ORDER BY cos_centroid, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY label, rank""".stripMargin,
    "q184_embedding_diversity" ->
      s"""WITH e AS (SELECT vec_id, label, $qv AS v FROM embeddings),
         |sums AS (
         |  SELECT label, pos, SUM(v[pos]) AS sv
         |  FROM e, (SELECT unnest(range(1, 65)) AS pos) p
         |  GROUP BY 1, 2),
         |svec AS (SELECT label, list(sv ORDER BY pos) AS s
         |  FROM sums GROUP BY 1),
         |pv AS (
         |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(list_dot_product(v, v)) AS BIGINT) AS sum_norm2
         |  FROM e GROUP BY 1),
         |cn AS (
         |  SELECT label, CAST(list_dot_product(s, s) AS BIGINT)
         |    AS centroid_norm2
         |  FROM svec)
         |SELECT label, n, sum_norm2, centroid_norm2,
         |  centroid_norm2 - sum_norm2 AS pair_dot_num,
         |  CASE WHEN n > 1 THEN
         |    CAST(CAST(centroid_norm2 - sum_norm2 AS DOUBLE)
         |      / CAST(n * (n - 1) AS DOUBLE) AS DOUBLE)
         |  END AS mean_pair_dot
         |FROM pv JOIN cn USING (label) ORDER BY label""".stripMargin,
    "q179_retrieval_eval" ->
      s"""WITH planes(p, s) AS (VALUES
         |  $planesValues),
         |e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qvec FROM e
         |  WHERE vec_id % 10 = 0),
         |exact AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM (
         |    SELECT q.query_id, c.vec_id,
         |      CAST(list_dot_product(q.qvec, c.v) /
         |        sqrt(list_dot_product(q.qvec, q.qvec)
         |          * list_dot_product(c.v, c.v)) AS DOUBLE) AS cosine
         |    FROM q, e c WHERE c.vec_id != q.query_id)),
         |ex5 AS (SELECT * FROM exact WHERE rank <= 5),
         |sigs AS (
         |  SELECT e.vec_id, pl.p // 4 AS band,
         |    CAST(SUM(CASE WHEN list_dot_product(e.v,
         |        list_transform(pl.s, x -> CAST(x AS DOUBLE))) > 0
         |      THEN 1 << (pl.p % 4) ELSE 0 END) AS BIGINT) AS bkey
         |  FROM e, planes pl GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT qs.vec_id AS query_id, c.vec_id
         |  FROM sigs c JOIN sigs qs ON c.band = qs.band AND c.bkey = qs.bkey
         |  WHERE qs.vec_id % 10 = 0 AND c.vec_id != qs.vec_id),
         |ann5 AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |    FROM (
         |      SELECT cand.query_id, cand.vec_id,
         |        CAST(list_dot_product(cv.v, qv2.v) /
         |          sqrt(list_dot_product(qv2.v, qv2.v)
         |            * list_dot_product(cv.v, cv.v)) AS DOUBLE) AS cosine
         |      FROM cand
         |      JOIN e cv ON cv.vec_id = cand.vec_id
         |      JOIN e qv2 ON qv2.vec_id = cand.query_id))
         |  WHERE rank <= 5),
         |idcgv AS (
         |  SELECT query_id,
         |    list_reduce(list_prepend([0.0, 0.0],
         |      list([cosine, CAST(rank AS DOUBLE)] ORDER BY rank)),
         |      (a, x) -> [a[1] + x[1] / (CAST([$discList] AS DOUBLE[]))
         |        [CAST(x[2] AS INTEGER)], 0.0])[1] AS idcg
         |  FROM ex5 GROUP BY query_id),
         |dcgv AS (
         |  SELECT query_id,
         |    list_reduce(list_prepend([0.0, 0.0],
         |      list([cosine, CAST(rank AS DOUBLE)] ORDER BY rank)),
         |      (a, x) -> [a[1] + x[1] / (CAST([$discList] AS DOUBLE[]))
         |        [CAST(x[2] AS INTEGER)], 0.0])[1] AS dcg
         |  FROM ann5 GROUP BY query_id),
         |rrv AS (
         |  SELECT t.query_id,
         |    COALESCE(CAST(1.0 AS DOUBLE) / a.rank, CAST(0.0 AS DOUBLE))
         |      AS rr
         |  FROM (SELECT query_id, vec_id FROM exact WHERE rank = 1) t
         |  LEFT JOIN ann5 a
         |    ON a.query_id = t.query_id AND a.vec_id = t.vec_id)
         |SELECT i.query_id, COALESCE(r.rr, 0.0) AS rr,
         |  CAST(COALESCE(d.dcg, 0.0) AS DOUBLE) AS dcg,
         |  CAST(i.idcg AS DOUBLE) AS idcg,
         |  CAST(COALESCE(d.dcg, 0.0) / i.idcg AS DOUBLE) AS ndcg
         |FROM idcgv i
         |LEFT JOIN dcgv d USING (query_id)
         |LEFT JOIN rrv r USING (query_id)
         |ORDER BY i.query_id""".stripMargin,
    "q235_retrieval_eval_auto" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id % 10 = 0
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ExactBaselineBudget),
         |exact AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM (
         |    SELECT q.query_id, c.vec_id,
         |      CAST(list_dot_product(q.qvec, c.v) /
         |        sqrt(list_dot_product(q.qvec, q.qvec)
         |          * list_dot_product(c.v, c.v)) AS DOUBLE) AS cosine
         |    FROM q, e c WHERE c.vec_id != q.query_id)),
         |ex5 AS (SELECT * FROM exact WHERE rank <= 5),
         |cent AS (
         |  SELECT vec_id AS cid, v FROM (
         |    SELECT vec_id, v, ROW_NUMBER() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crn FROM e)
         |  WHERE crn <= (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, c.v) /
         |               sqrt(list_dot_product(c.v, c.v)) DESC, c.cid) AS rn
         |    FROM e, cent c) WHERE rn = 1),
         |probe AS (
         |  SELECT query_id, cid FROM (
         |    SELECT qq.query_id, c.cid, ROW_NUMBER() OVER (PARTITION BY qq.query_id
         |      ORDER BY list_dot_product(qq.qvec, c.v) /
         |               sqrt(list_dot_product(c.v, c.v)) DESC, c.cid) AS rn
         |    FROM q qq, cent c) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, a.vec_id
         |  FROM probe p JOIN assign a ON a.cid = p.cid
         |  WHERE a.vec_id != p.query_id),
         |ann5 AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |    FROM (
         |      SELECT cand.query_id, cand.vec_id,
         |        CAST(list_dot_product(cv.v, qv2.v) /
         |          sqrt(list_dot_product(qv2.v, qv2.v)
         |            * list_dot_product(cv.v, cv.v)) AS DOUBLE) AS cosine
         |      FROM cand
         |      JOIN e cv ON cv.vec_id = cand.vec_id
         |      JOIN e qv2 ON qv2.vec_id = cand.query_id))
         |  WHERE rank <= 5),
         |idcgv AS (
         |  SELECT query_id,
         |    list_reduce(list_prepend([0.0, 0.0],
         |      list([cosine, CAST(rank AS DOUBLE)] ORDER BY rank)),
         |      (a, x) -> [a[1] + x[1] / (CAST([$discList] AS DOUBLE[]))
         |        [CAST(x[2] AS INTEGER)], 0.0])[1] AS idcg
         |  FROM ex5 GROUP BY query_id),
         |dcgv AS (
         |  SELECT query_id,
         |    list_reduce(list_prepend([0.0, 0.0],
         |      list([cosine, CAST(rank AS DOUBLE)] ORDER BY rank)),
         |      (a, x) -> [a[1] + x[1] / (CAST([$discList] AS DOUBLE[]))
         |        [CAST(x[2] AS INTEGER)], 0.0])[1] AS dcg
         |  FROM ann5 GROUP BY query_id),
         |rrv AS (
         |  SELECT t.query_id,
         |    COALESCE(CAST(1.0 AS DOUBLE) / a.rank, CAST(0.0 AS DOUBLE))
         |      AS rr
         |  FROM (SELECT query_id, vec_id FROM exact WHERE rank = 1) t
         |  LEFT JOIN ann5 a
         |    ON a.query_id = t.query_id AND a.vec_id = t.vec_id)
         |SELECT i.query_id, COALESCE(r.rr, 0.0) AS rr,
         |  CAST(COALESCE(d.dcg, 0.0) AS DOUBLE) AS dcg,
         |  CAST(i.idcg AS DOUBLE) AS idcg,
         |  CAST(COALESCE(d.dcg, 0.0) / i.idcg AS DOUBLE) AS ndcg
         |FROM idcgv i
         |LEFT JOIN dcgv d USING (query_id)
         |LEFT JOIN rrv r USING (query_id)
         |ORDER BY i.query_id""".stripMargin,
    "q50_ann_topk" ->
      s"""WITH planes(p, s) AS (VALUES
         |  $planesValues),
         |e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |sigs AS (
         |  SELECT e.vec_id, pl.p // 4 AS band,
         |    CAST(SUM(CASE WHEN list_dot_product(e.v,
         |        list_transform(pl.s, x -> CAST(x AS DOUBLE))) > 0
         |      THEN 1 << (pl.p % 4) ELSE 0 END) AS BIGINT) AS bkey
         |  FROM e, planes pl GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
         |  FROM sigs c JOIN sigs q ON c.band = q.band AND c.bkey = q.bkey
         |  WHERE q.vec_id % 10 = 0 AND c.vec_id != q.vec_id),
         |scored AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    CAST(list_dot_product(cv.v, qv.v) /
         |      sqrt(list_dot_product(qv.v, qv.v) * list_dot_product(cv.v, cv.v))
         |      AS DOUBLE) AS cosine
         |  FROM cand
         |  JOIN e cv ON cv.vec_id = cand.vec_id
         |  JOIN e qv ON qv.vec_id = cand.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q276_class_scatter" ->
      s"""WITH e AS (SELECT label, $qvBig AS v FROM embeddings),
         |cells AS (
         |  SELECT label, i AS pos, CAST(SUM(v[i]) AS BIGINT) AS sv
         |  FROM e, generate_series(1, 64) g(i) GROUP BY 1, 2),
         |pl AS (
         |  SELECT label, COUNT(*) AS n_vecs,
         |    CAST(SUM(CAST(list_dot_product(
         |      list_transform(v, x -> CAST(x AS DOUBLE)),
         |      list_transform(v, x -> CAST(x AS DOUBLE))) AS BIGINT)) AS BIGINT)
         |      AS ssq
         |  FROM e GROUP BY 1),
         |s2 AS (
         |  SELECT label, CAST(SUM(sv * sv) AS BIGINT) AS s_norm2
         |  FROM cells GROUP BY 1),
         |lab AS (
         |  SELECT CAST(pl.label AS VARCHAR) AS label, n_vecs, ssq, s_norm2
         |  FROM pl JOIN s2 USING (label)),
         |gcells AS (SELECT pos, CAST(SUM(sv) AS BIGINT) AS gv FROM cells GROUP BY 1),
         |tot AS (
         |  SELECT 'ALL' AS label, CAST(SUM(n_vecs) AS BIGINT) AS n_vecs,
         |    CAST(SUM(ssq) AS BIGINT) AS ssq
         |  FROM lab),
         |gs AS (SELECT CAST(SUM(gv * gv) AS BIGINT) AS s_norm2 FROM gcells),
         |u AS (
         |  SELECT * FROM lab
         |  UNION ALL
         |  SELECT tot.label, tot.n_vecs, tot.ssq, gs.s_norm2 FROM tot, gs)
         |SELECT label, n_vecs, ssq, s_norm2,
         |  CAST(CAST(ssq AS DOUBLE) - CAST(s_norm2 AS DOUBLE) / n_vecs AS DOUBLE)
         |    AS within_scatter
         |FROM u ORDER BY label""".stripMargin,
    "q270_contrastive_mining" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, label AS anchor_label, $qv AS qvec
         |  FROM embeddings WHERE vec_id % 10 = 0
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ExactBaselineBudget),
         |c AS (SELECT vec_id, label, $qv AS cvec FROM embeddings),
         |scored AS (
         |  SELECT q.query_id AS anchor_id, q.anchor_label, c.vec_id, c.label,
         |    CAST(list_dot_product(q.qvec, c.cvec) /
         |      sqrt(list_dot_product(q.qvec, q.qvec) * list_dot_product(c.cvec, c.cvec))
         |      AS DOUBLE) AS cosine,
         |    CASE WHEN c.label = q.anchor_label THEN 'positive'
         |         ELSE 'negative' END AS role
         |  FROM q, c WHERE c.vec_id != q.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, role
         |    ORDER BY cosine DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT anchor_id, anchor_label, role, CAST(rk AS INTEGER) AS rk,
         |  vec_id, label, cosine
         |FROM ranked
         |WHERE (role = 'positive' AND rk <= 1) OR (role = 'negative' AND rk <= 3)
         |ORDER BY anchor_id, role, rk""".stripMargin,
    // q265: quantizer bounds → SQ8 code → integer reconstruction →
    // ADC scoring, every floor replayed exactly (integer numerators
    // stay far below 2^53, so the double divisions are exact and
    // floor(a/b) IS integer division in both engines).
    "q265_sq8_ann" ->
      s"""WITH e AS (SELECT vec_id, label, $qvBig AS v FROM embeddings),
         |st AS (
         |  SELECT i, MIN(v[i]) AS mn,
         |    GREATEST(MAX(v[i]) - MIN(v[i]), 1) AS sp
         |  FROM e, generate_series(1, 64) g(i) GROUP BY i),
         |p AS (SELECT list(mn ORDER BY i) AS mns, list(sp ORDER BY i) AS sps FROM st),
         |r AS (
         |  SELECT vec_id, label,
         |    list_transform(v, (x, i) -> CAST(mns[i] +
         |      CAST(FLOOR(CAST(
         |        CAST(FLOOR(CAST((x - mns[i]) * 255 AS DOUBLE) / sps[i]) AS BIGINT)
         |        * sps[i] AS DOUBLE) / 255) AS BIGINT) AS DOUBLE)) AS rvec
         |  FROM e, p),
         |q AS (
         |  SELECT vec_id AS query_id,
         |    list_transform(v, x -> CAST(x AS DOUBLE)) AS qvec
         |  FROM e WHERE vec_id % 10 = 0
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ExactBaselineBudget),
         |scored AS (
         |  SELECT q.query_id, r.vec_id, r.label,
         |    CAST(list_dot_product(q.qvec, r.rvec) /
         |      sqrt(list_dot_product(q.qvec, q.qvec) * list_dot_product(r.rvec, r.rvec))
         |      AS DOUBLE) AS cosine
         |  FROM q, r WHERE r.vec_id != q.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine, label FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q49_cosine_topk" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, $qv AS qvec FROM embeddings WHERE vec_id % 10 = 0
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ExactBaselineBudget),
         |c AS (SELECT vec_id, label, $qv AS cvec FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, c.vec_id, c.label,
         |    CAST(list_dot_product(q.qvec, c.cvec) /
         |      sqrt(list_dot_product(q.qvec, q.qvec) * list_dot_product(c.cvec, c.cvec))
         |      AS DOUBLE) AS cosine
         |  FROM q, c WHERE c.vec_id != q.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine, label FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q51_embedding_stats" ->
      s"""WITH n AS (
         |  SELECT label, CAST(list_dot_product($qv, $qv) AS BIGINT) AS norm2
         |  FROM embeddings)
         |SELECT label, COUNT(*) AS vec_count,
         |  CAST(SUM(norm2) AS BIGINT) AS sum_norm2,
         |  MIN(norm2) AS min_norm2, MAX(norm2) AS max_norm2,
         |  CAST(CAST(SUM(norm2) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_norm2
         |FROM n GROUP BY label ORDER BY label""".stripMargin,
    "q215_ann_auto" ->
      s"""WITH planes(p, s) AS (VALUES
         |  $pool256Values),
         |e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |bits AS (
         |  SELECT COALESCE(MIN(b), 32) AS bits
         |  FROM (SELECT unnest(range(4, 33)) AS b),
         |    (SELECT (COUNT(*) + 39) // 40 AS need FROM e)
         |  WHERE (CAST(1 AS BIGINT) << b) >= need),
         |sigs AS (
         |  SELECT e.vec_id, (pl.p % 128) // 16 AS band,
         |    CAST(SUM(CASE WHEN list_dot_product(e.v,
         |        list_transform(pl.s, x -> CAST(x AS DOUBLE))) > 0
         |      THEN CAST(1 AS BIGINT) << ((pl.p // 128) * 16 + pl.p % 16)
         |      ELSE 0 END) AS BIGINT) AS bkey
         |  FROM e, planes pl, bits
         |  WHERE (pl.p // 128) * 16 + pl.p % 16 < bits.bits
         |  GROUP BY 1, 2),
         |qsigs AS (
         |  SELECT vec_id, band, CAST(xor(bkey, f.f) AS BIGINT) AS bkey
         |  FROM sigs, (VALUES (0), (1), (2)) f(f)
         |  WHERE vec_id % 10 = 0),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
         |  FROM sigs c JOIN qsigs q ON c.band = q.band AND c.bkey = q.bkey
         |  WHERE c.vec_id != q.vec_id),
         |scored AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    CAST(list_dot_product(cv.v, qv.v) /
         |      sqrt(list_dot_product(qv.v, qv.v) * list_dot_product(cv.v, cv.v))
         |      AS DOUBLE) AS cosine
         |  FROM cand
         |  JOIN e cv ON cv.vec_id = cand.vec_id
         |  JOIN e qv ON qv.vec_id = cand.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q80_multiprobe_ann" ->
      s"""WITH planes(p, s) AS (VALUES
         |  $planesValues),
         |e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |sigs AS (
         |  SELECT e.vec_id, pl.p // 4 AS band,
         |    CAST(SUM(CASE WHEN list_dot_product(e.v,
         |        list_transform(pl.s, x -> CAST(x AS DOUBLE))) > 0
         |      THEN 1 << (pl.p % 4) ELSE 0 END) AS BIGINT) AS bkey
         |  FROM e, planes pl GROUP BY 1, 2),
         |qsigs AS (
         |  SELECT vec_id, band, CAST(xor(bkey, f.f) AS BIGINT) AS bkey
         |  FROM sigs, (VALUES (0), (1), (2), (4), (8)) f(f)
         |  WHERE vec_id % 10 = 0),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
         |  FROM sigs c JOIN qsigs q ON c.band = q.band AND c.bkey = q.bkey
         |  WHERE c.vec_id != q.vec_id),
         |scored AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    CAST(list_dot_product(cv.v, qv.v) /
         |      sqrt(list_dot_product(qv.v, qv.v) * list_dot_product(cv.v, cv.v))
         |      AS DOUBLE) AS cosine
         |  FROM cand
         |  JOIN e cv ON cv.vec_id = cand.vec_id
         |  JOIN e qv ON qv.vec_id = cand.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q75_ivf_ann" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |qs AS (
         |  SELECT vec_id, v FROM e WHERE vec_id % 10 = 0
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT $FixedIvfQueryBudget),
         |cent AS (
         |  SELECT vec_id AS cid, v FROM e
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, c.v) /
         |               sqrt(list_dot_product(c.v, c.v)) DESC, c.cid) AS rn
         |    FROM e, cent c) WHERE rn = 1),
         |probe AS (
         |  SELECT query_id, cid FROM (
         |    SELECT q.vec_id AS query_id, c.cid, ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |               sqrt(list_dot_product(c.v, c.v)) DESC, c.cid) AS rn
         |    FROM qs q, cent c) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, a.vec_id
         |  FROM probe p JOIN assign a ON a.cid = p.cid
         |  WHERE a.vec_id != p.query_id),
         |scored AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    CAST(list_dot_product(cv.v, qv.v) /
         |      sqrt(list_dot_product(qv.v, qv.v) * list_dot_product(cv.v, cv.v))
         |      AS DOUBLE) AS cosine
         |  FROM cand
         |  JOIN e cv ON cv.vec_id = cand.vec_id
         |  JOIN e qv ON qv.vec_id = cand.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q228_ivf_auto" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |cent AS (
         |  SELECT vec_id AS cid, v FROM (
         |    SELECT vec_id, v, ROW_NUMBER() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crn FROM e)
         |  WHERE crn <= (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, c.v) /
         |               sqrt(list_dot_product(c.v, c.v)) DESC, c.cid) AS rn
         |    FROM e, cent c) WHERE rn = 1),
         |probe AS (
         |  SELECT query_id, cid FROM (
         |    SELECT q.vec_id AS query_id, c.cid, ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |               sqrt(list_dot_product(c.v, c.v)) DESC, c.cid) AS rn
         |    FROM e q, cent c WHERE q.vec_id % 10 = 0) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, a.vec_id
         |  FROM probe p JOIN assign a ON a.cid = p.cid
         |  WHERE a.vec_id != p.query_id),
         |scored AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    CAST(list_dot_product(cv.v, qv.v) /
         |      sqrt(list_dot_product(qv.v, qv.v) * list_dot_product(cv.v, cv.v))
         |      AS DOUBLE) AS cosine
         |  FROM cand
         |  JOIN e cv ON cv.vec_id = cand.vec_id
         |  JOIN e qv ON qv.vec_id = cand.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q52_embedding_neardup" ->
      s"""WITH c AS (SELECT vec_id, $qv AS v FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_dot_product(a.v, b.v) /
         |    sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))
         |    AS DOUBLE) AS cosine,
         |  CAST(list_dot_product(a.v, b.v) /
         |    sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))
         |    AS DOUBLE) >= 0.9 AS is_near_dup
         |FROM c a JOIN c b ON b.vec_id = a.vec_id + 1
         |ORDER BY id_a""".stripMargin,
  )

  /** q279 IS q215 with the band resolution pinned to 18 bits and the
    * query universe narrowed to the md5 budget slice — the forceBits
    * hook's oracle replaces the COUNT(*)-derived bits CTE with the
    * constant and the qsigs filter with the q216-style bounded batch,
    * keeping every other line (tiered plane slices, probe flips,
    * distinct, scoring) verbatim. Derived by anchored string surgery
    * so the oracles can never drift (the q229 pattern). */
  private val q279Oracle: String = {
    val base = oraclesBase("q215_ann_auto")
    val bitsCte =
      """bits AS (
        |  SELECT COALESCE(MIN(b), 32) AS bits
        |  FROM (SELECT unnest(range(4, 33)) AS b),
        |    (SELECT (COUNT(*) + 39) // 40 AS need FROM e)
        |  WHERE (CAST(1 AS BIGINT) << b) >= need),""".stripMargin
    val qsigsFilter = "  WHERE vec_id % 10 = 0),"
    require(base.contains(bitsCte) && base.contains(qsigsFilter),
      "q215 oracle anchors moved — update q279's derivation")
    base
      .replace(bitsCte,
        s"""bits AS (SELECT 18 AS bits),
           |qs AS (
           |  SELECT vec_id FROM e WHERE vec_id % 10 = 0
           |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           |  LIMIT $FixedIvfQueryBudget),""".stripMargin)
      .replace(qsigsFilter, "  WHERE vec_id IN (SELECT vec_id FROM qs)),")
  }

  /** q280 IS q228 (auto-⌈√n⌉ IVF, answered from the persisted index)
    * with the q216-style md5 query budget: the probe CTE's query
    * universe gains the budget slice, everything else (codebook draw,
    * assignment, probing, scoring) stays verbatim — the hash match
    * then certifies the index round-trip is lossless at the auto
    * codebook scale. Anchored derivation, q229's pattern. */
  private val q280Oracle: String = {
    val base = oraclesBase("q228_ivf_auto")
    val eAnchor = "WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),"
      .replace("$qv", qv)
    val probeAnchor = "FROM e q, cent c WHERE q.vec_id % 10 = 0) WHERE rn <= 4),"
    require(base.contains(eAnchor) && base.contains(probeAnchor),
      "q228 oracle anchors moved — update q280's derivation")
    base
      .replace(eAnchor,
        s"""$eAnchor
           |qs AS (
           |  SELECT vec_id, v FROM e WHERE vec_id % 10 = 0
           |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           |  LIMIT $FixedIvfQueryBudget),""".stripMargin)
      .replace(probeAnchor, "FROM qs q, cent c) WHERE rn <= 4),")
  }

  /** q216 answers from the persisted IvfIndex with q75's exact
    * parameters — sharing q75's oracle TEXT certifies the index
    * round-trip (write codebook + partitioned lists, read back,
    * prune, score) is lossless. q279/q280 are anchored derivations
    * (see above). */
  val oracles: Map[String, String] =
    oraclesBase + ("q216_ivf_index" -> oraclesBase("q75_ivf_ann")) +
      ("q279_ann_tier1" -> q279Oracle) +
      ("q280_ivf_auto_served" -> q280Oracle)
}
