package graft.queries

import graft.Tables
import graft.Tables.documents
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection queries over the documents table, each
  * hash-exact against a DuckDB oracle: the FNV-1a/minhash/simhash
  * kernels are replicated in portable SQL (HUGEINT mod-2^64
  * arithmetic), so the full LSH pipelines — not just the verify
  * kernels — sit under the driver's correctness gate.
  */
object DedupOps {

  type Q = (SparkSession, String) => DataFrame

  /** MinHash(16) + LSH(4 bands × 4 rows) candidate pairs, verified
    * with exact 3-shingle Jaccard. The full scalable near-dup
    * pipeline: shingle → sign → band → bucket-join → verify. */
  def q46MinhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val sigs = Dedup.minhashSignatures(d, "doc_id", "text", k = 16, shingleN = 3)
    val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4, rowsPerBand = 4)
    Dedup.verifyJaccard(pairs, d, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.2)
      .select("id_a", "id_b", "intersection_size", "union_size", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** 64-bit SimHash fingerprints per document (deterministic across
    * runs — xxhash64 token hashing, sign-of-bit-sum aggregation). */
  def q47SimhashFingerprint(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash64(documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("simhash"))
      .orderBy("doc_id")

  /** SimHash near-dup pairs: 8-bit chunk bucketing + Hamming verify.
    * maxHamming stays at 7 — the pigeonhole recall guarantee of the
    * 8-chunk bucketing (see Dedup.simhashNearDups). */
  def q48SimhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.simhash64(documents(s, dir), "doc_id", "text")
    Dedup.simhashNearDups(sigs, "doc_id", maxHamming = 7)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** Near-dup CLUSTERS: connected components over the verified q46
    * pair set (min-reachable-id labels), one row per clustered doc
    * with its canonical survivor flag — the keep-one-per-cluster step
    * a curation pipeline runs after pair detection. */
  def q77DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val sigs = Dedup.minhashSignatures(d, "doc_id", "text", k = 16, shingleN = 3)
    val cand = Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4, rowsPerBand = 4)
    val pairs = Dedup.verifyJaccard(cand, d, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.2)
      .select("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("id").as("doc_id"), col("cluster_id"),
        col("cluster_size"), (col("id") === col("cluster_id")).as("is_survivor"))
      .orderBy("cluster_id", "doc_id")
  }

  /** q266 — q77's clustering with the STAR-CONTRACTION engine
    * ([[Dedup.starContraction]] — Kiveris et al. 2014 alternating
    * large-star/small-star, O(log n) rounds regardless of component
    * diameter; min-label propagation's round count is O(diameter),
    * which a pathological chain component blows up at 100 TB). Same
    * LSH+verify graph, same output shape, and the ORACLE IS q77's
    * VERBATIM — the two CC engines must agree row-for-row through
    * the driver's hash gate (the q216-shares-q75 equivalence
    * pattern). Both labelings are the component-min id, so
    * agreement is exact, not just up to relabeling. */
  def q266StarccClusters(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val sigs = Dedup.minhashSignatures(d, "doc_id", "text", k = 16, shingleN = 3)
    val cand = Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4, rowsPerBand = 4)
    val pairs = Dedup.verifyJaccard(cand, d, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.2)
      .select("id_a", "id_b")
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val cc = Dedup.starContraction(sym)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("id").as("doc_id"), col("cluster_id"),
        col("cluster_size"), (col("id") === col("cluster_id")).as("is_survivor"))
      .orderBy("cluster_id", "doc_id")
  }

  /** q272 — LSH PARAMETER TUNER: for every (bands, rows) factoring
    * of the 16-hash signature, the expected miss/false-candidate
    * weights of the banding S-curve p(s) = 1 − (1 − s^r)^b
    * (Leskovec/Rajaraman/Ullman MMDS §3.4.3) evaluated against the
    * CORPUS'S OWN observed pair-similarity histogram (q44's linear
    * adjacent-pair kernel, binned) — the design table behind q46's
    * bands=4/rows=4 choice, recomputed per corpus instead of folklore.
    * The S-curve is evaluated by literal multiplication chains (not
    * pow — engines' pow may differ in the last ulp) and fixed-pointed
    * at micro precision, so every weight is an exact integer both
    * engines agree on. Error weights split at the τ=0.2 bin edge:
    * fn_weight = missed true pairs, fp_weight = caught sub-τ pairs;
    * pick_rank orders by total error. All post-aggregation math over
    * a ≤10-row histogram × 5 configs. */
  def q272LshTuner(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis.tokens
    val d = documents(s, dir)
    val a = d.select(col("doc_id").as("doc_a"),
      array_distinct(tokens(col("text"))).as("ta"))
    val b = d.select(col("doc_id").as("doc_b"),
      array_distinct(tokens(col("text"))).as("tb"))
    val inter = size(array_intersect(col("ta"), col("tb")))
    val jac = a.join(b, col("doc_b") === col("doc_a") + 1)
      .select((inter.cast("double") /
        (size(col("ta")) + size(col("tb")) - inter)).as("jaccard"))
    val hist = jac
      .select(least(floor(col("jaccard") * 10).cast("int"), lit(9)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    val sMid = col("bin").cast("double") * 0.1 + 0.05
    val perConfig = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)).map {
      case (bands, rows) =>
        val sr = (1 until rows).foldLeft(sMid)((e, _) => e * sMid)
        val miss = (1 until bands).foldLeft(lit(1.0) - sr)((e, _) => e * (lit(1.0) - sr))
        hist.select(
          lit(bands).as("bands"), lit(rows).as("rows_per_band"),
          col("bin"), col("cnt"),
          floor((lit(1.0) - miss) * 1e6).cast("long").as("p_micro"))
    }.reduce(_ unionAll _)
    perConfig.groupBy("bands", "rows_per_band")
      .agg(
        sum(when(col("bin") >= 2, col("cnt") * (lit(1000000L) - col("p_micro")))
          .otherwise(0L)).as("fn_weight"),
        sum(when(col("bin") < 2, col("cnt") * col("p_micro"))
          .otherwise(0L)).as("fp_weight"))
      .withColumn("total_error", col("fn_weight") + col("fp_weight"))
      .withColumn("pick_rank", row_number().over(
        Window.orderBy(col("total_error").asc, col("bands").asc)).cast("int"))
      .orderBy("bands")
  }

  /** q220 — QUALITY-argmax survivor selection over the near-dup
    * clusters (the policy step after q77's clustering: SlimPajama/
    * FineWeb pipelines keep the BEST document of each duplicate
    * cluster, not an arbitrary canonical id). Full-corpus output:
    * every document labeled with its cluster (singletons form their
    * own), the cluster size, and whether it survives — survivor =
    * argmax(quality, doc_id-tiebreak) within the cluster. Scale: the
    * clustering is q77's banded-LSH + CC (never all-pairs); the
    * selection adds one window keyed by cluster_id — cluster sizes
    * are near-dup cluster sizes (small by construction at any corpus
    * scale), so the per-key sort is bounded and skew-free. */
  def q220QualitySurvivor(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val sigs = Dedup.minhashSignatures(d, "doc_id", "text", k = 16, shingleN = 3)
    val cand = Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4, rowsPerBand = 4)
    val pairs = Dedup.verifyJaccard(cand, d, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.2)
      .select("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    val scored = d.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    val labeled = scored
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val wBest = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    labeled
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("best", row_number().over(wBest))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality"), (col("best") === 1).as("is_survivor"))
      .orderBy("cluster_id", "doc_id")
  }

  /** Incremental corpus dedup — the continual-ingestion op: classify
    * each NEWLY ARRIVED document (doc_id % 10 == 0 plays the
    * increment) against the existing corpus as exact_dup (canonical
    * fingerprint match), near_dup (LSH candidate verified at
    * jaccard ≥ 0.2), or novel. Exact wins over near; the matched
    * corpus doc is the smallest matching id. Only increment×corpus
    * pairs are scored — the corpus never self-joins, so the per-batch
    * cost scales with the increment, not the corpus. */
  def q86IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val isInc = col("doc_id") % 10 === 0
    val fp = d.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val exact = fp.filter(isInc)
      .join(fp.filter(!isInc).select(col("fp"), col("doc_id").as("cid")), "fp")
      .groupBy("doc_id").agg(min("cid").as("exact_match"))
    val sigs = Dedup.minhashSignatures(d, "doc_id", "text", k = 16, shingleN = 3)
    // bipartite banding: increment bands join corpus bands only — the
    // corpus never self-joins, so candidate cost scales with the
    // increment (corpus-side work is one banding scan)
    val crossPairs = Dedup.lshCandidatePairsAcross(
      sigs.filter(isInc), sigs.filter(!isInc), "doc_id",
      bands = 4, rowsPerBand = 4)
    val near = Dedup.verifyJaccard(crossPairs, d, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.2)
      .groupBy(col("id_a").as("doc_id")).agg(min("id_b").as("near_match"))
    d.filter(isInc).select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("novel").as("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("match_doc_id"))
      .orderBy("doc_id")
  }

  /** The deduplicated corpus — the artifact a curation pipeline
    * actually ships: every document except non-survivor members of
    * near-dup clusters (q77's connected components keep the min-id
    * doc per cluster). One anti-join against the loser set. */
  def q93DedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val sigs = Dedup.minhashSignatures(d, "doc_id", "text", k = 16, shingleN = 3)
    val cand = Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4, rowsPerBand = 4)
    val pairs = Dedup.verifyJaccard(cand, d, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.2)
      .select("id_a", "id_b")
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    d.join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Leakage-guarded train/val/test split: near-dup CLUSTERS (q77's
    * connected components) are the atomic assignment unit, so a
    * document and its near-duplicates can never straddle a
    * train/test boundary — the contamination q63 measures after the
    * fact, prevented here at split time. Assignment is a
    * deterministic md5 fraction of the GROUP id (cluster label for
    * clustered docs, the doc's own id otherwise): 80/10/10 in
    * expectation, reproducible by any engine with no RNG state, and
    * growing the corpus never reassigns an existing group. Cost =
    * the q77 clustering plus one keyed join of the (dup-rate-bounded)
    * label set back onto the corpus. */
  def q122LeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val sigs = Dedup.minhashSignatures(d, "doc_id", "text", k = 16, shingleN = 3)
    val cand = Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4, rowsPerBand = 4)
    val pairs = Dedup.verifyJaccard(cand, d, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.2)
      .select("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
    // frac(md5(group_id)): first 12 hex digits are exact in doubles
    // cross-engine — the q79 sampling idiom applied to groups
    val u = conv(substring(md5(col("group_id").cast("string")), 1, 12), 16, 10)
      .cast("double") / lit(math.pow(16.0, 12.0))
    d.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"))
      .select("doc_id", "group_id", "split")
      .orderBy("doc_id")
  }

  /** Asymmetric CONTAINMENT dedup — the quote/subset detector that
    * symmetric Jaccard misses: a short document fully embedded in a
    * long one scores containment(a→b) = |Tₐ∩T_b|/|Tₐ| ≈ 1 while its
    * Jaccard stays tiny. Candidates come from shared word 8-grams
    * (verbatim containment of ≥8 tokens guarantees a shared gram)
    * restricted to RARE grams (2–5 docs) so per-gram pair fan-out is
    * ≤ 25 at any corpus size; pairs sharing only corpus-common grams
    * are the symmetric near-dup family's job (q46/q47). Shuffles are
    * keyed by gram strings and pair keys; token arrays travel only
    * for surviving candidates. */
  def q146Containment(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val t = documents(s, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val grams = t.select(col("doc_id"),
        explode(TextAnalysis.wordNgrams(col("toks"), n)).as("gram"))
      .distinct()
    val rare = grams.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd").between(2, 5)).select("gram")
    val cand = grams.join(rare, "gram")
    val pairs = cand.select(col("gram"), col("doc_id").as("doc_a"))
      .join(cand.select(col("gram"), col("doc_id").as("doc_b")), "gram")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val ta = t.select(col("doc_id").as("doc_a"),
      array_distinct(col("toks")).as("ta"))
    val tb = t.select(col("doc_id").as("doc_b"), col("toks").as("tb"))
    pairs.join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("ta")).as("tokens_a"),
        size(array_intersect(col("ta"), col("tb"))).as("overlap"))
      .withColumn("containment",
        (col("overlap").cast("double") / col("tokens_a")).cast("double"))
      .filter(col("containment") >= 0.8)
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT all-pairs set-similarity self-join via prefix filtering
    * (Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity
    * Search" / SSJoin): every doc pair with 3-gram-shingle Jaccard
    * ≥ 0.5, with NO approximation — the recall-lossless alternative
    * to q46's MinHash-LSH. Shingles are globally ordered by
    * (document frequency, shingle); a doc of n shingles explodes only
    * its n − ⌈t·n⌉ + 1 RAREST shingles (its "prefix"), and two docs
    * can reach Jaccard ≥ t only if their prefixes share a shingle —
    * so the candidate join blocks on rare shingles instead of
    * comparing all O(n²) pairs, and the exact verify runs on
    * candidates only.
    *
    * The oracle is deliberately ALGORITHM-INDEPENDENT brute force
    * (all 125k pairs at sf0.01): a hash match certifies the prefix
    * filter dropped zero true pairs, not merely that both engines
    * ran the same clever plan.
    *
    * Scale: df-ordered prefixes block on the rare end of the Zipf
    * curve, so bucket sizes stay small exactly where volume is
    * large; candidate verification is a keyed join on (doc_a, doc_b).
    * The df table is a shuffle bounded by the shingle vocabulary. */
  /** Distinct 3-gram shingle STRINGS from a `toks` column — the
    * plain-text counterpart of Dedup.shingleHashes (q151/q158). */
  private def shingleSetCol =
    array_distinct(transform(
      sequence(lit(1), greatest(size(col("toks")) - 2, lit(1))),
      i => concat_ws(" ", slice(col("toks"), i, lit(3)))))

  def q151SimilarityJoin(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val sh = toks.select(col("doc_id"), shingleSetCol.as("sset"))
      .persist()
    val ex = sh.select(col("doc_id"), explode(col("sset")).as("g"))
    val dfc = ex.groupBy("g").agg(count(lit(1)).as("df"))
    val ordered = ex.join(dfc, "g")
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("df"), col("g")))),
        x => x.getField("g")).as("og"))
    // both sides of the candidate self-join read this — persist, or
    // the df-join + collect-sort pipeline runs twice. posexplode keeps
    // each prefix shingle's 1-based position for the positional bound.
    val pref = ordered
      .withColumn("plen", expr("size(og) - (size(og) + 1) DIV 2 + 1"))
      .select(col("doc_id"), size(col("og")).as("n"),
        posexplode(slice(col("og"), lit(1), col("plen"))))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("p"), col("col").as("g"))
      .persist()
    // PPJoin bounds (Xiao et al., WWW'08), both applied BEFORE the
    // distinct so size/position-incompatible bucket-mates never reach
    // the candidate shuffle or the verify join:
    //  - length: J ≥ t forces t·|a| ≤ |b|;
    //  - positional: a match on prefix positions (pa, pb) caps the
    //    overlap at 1 + min(na−pa, nb−pb), which must reach the
    //    J ≥ 0.5 overlap floor ⌈(na+nb)/3⌉. Lossless: for the FIRST
    //    shared shingle in the global df order every overlapping
    //    shingle sits at-or-after (pa, pb), so the cap holds the true
    //    overlap and that row always survives to the distinct.
    val cand = pref.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("p").as("pa"), col("g"))
      .join(pref.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("p").as("pb"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b") &&
        col("na") <= col("nb") * 2 && col("nb") <= col("na") * 2 &&
        lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >=
          ceil((col("na") + col("nb")).cast("double") / 3.0))
      .select("doc_a", "doc_b").distinct()
    val inter = size(array_intersect(col("sa"), col("sb")))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sset").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sset").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        inter.cast("bigint").as("intersection_size"),
        (size(col("sa")) + size(col("sb")) - inter).cast("bigint").as("union_size"))
      .withColumn("jaccard",
        (col("intersection_size").cast("double") / col("union_size"))
          .cast("double"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** SOURCE-level vocabulary overlap matrix: pairwise Jaccard between
    * each source's distinct 3-gram shingle vocabulary — the corpus
    * diagnostic that catches one source mirroring another (high
    * overlap ⇒ cross-source dedup or provenance work) before any
    * doc-level pass runs. Computed the scalable way: explode to
    * (source, shingle), distinct, self-join per shingle — a shingle
    * shared by k sources fans out to C(k,2) ≤ C(|sources|,2) pair
    * rows, so the hot-key bound is the SOURCE alphabet, not corpus
    * size — then one |sources|²-row aggregate. */
  def q158SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val sv = documents(s, dir)
      .select(col("source"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("source"), explode(shingleSetCol).as("g"))
      .distinct()
    val tot = sv.groupBy("source").agg(count(lit(1)).as("vocab"))
    val shared = sv.select(col("source").as("source_a"), col("g"))
      .join(sv.select(col("source").as("source_b"), col("g")), Seq("g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("shared"))
    shared
      .join(tot.select(col("source").as("source_a"), col("vocab").as("vocab_a")),
        "source_a")
      .join(tot.select(col("source").as("source_b"), col("vocab").as("vocab_b")),
        "source_b")
      .withColumn("jaccard", (col("shared").cast("double") /
        (col("vocab_a") + col("vocab_b") - col("shared")).cast("double"))
        .cast("double"))
      .select("source_a", "source_b", "vocab_a", "vocab_b", "shared", "jaccard")
      .orderBy("source_a", "source_b")
  }

  /** LSH recall audit — the q46 MinHash-LSH pipeline measured against
    * EXACT ground truth, per similarity bucket, next to the
    * theoretical banding S-curve 1 − (1 − s⁴)⁴. Ground truth is the
    * complete pair set at Jaccard ≥ 0.05 (low enough to populate the
    * curve's low-recall shoulder — this corpus's pairs above 0.2 are
    * all near-identical), found by shared-shingle
    * blocking (complete: J > 0 requires ≥ 1 common shingle; hot
    * shingles are df-bounded — max 25 docs/shingle at sf0.1 — so
    * bucket joins stay tiny) + exact verify. Precision is 1 by
    * construction (q46 verifies exactly), so the interesting column
    * is per-bucket recall vs theory — the honest sketch-quality
    * number a curation pipeline should publish (q127's
    * measured-findings doctrine, applied to LSH). */
  def q166LshRecall(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val exsh = Dedup.shingleSets(d, "doc_id", "text", shingleN = 3)
      .select(col("doc_id"), explode(col("_shingles")).as("g"))
    val truePairs = exsh.select(col("doc_id").as("id_a"), col("g"))
      .join(exsh.select(col("doc_id").as("id_b"), col("g")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val truth = Dedup.verifyJaccard(truePairs, d, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.05)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val sigs = Dedup.minhashSignatures(d, "doc_id", "text", k = 16, shingleN = 3)
    val lsh = Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4, rowsPerBand = 4)
      .withColumn("caught", lit(1L))
    val sMid = (col("bucket").cast("double") * 0.1 + 0.05)
    val theory = round(lit(1.0) - pow(lit(1.0) - pow(sMid, 4.0), 4.0), 6)
    truth.join(lsh, Seq("id_a", "id_b"), "left")
      .withColumn("bucket",
        least(floor(col("jaccard") / 0.1).cast("int"), lit(9)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("recall",
        (col("n_caught").cast("double") / col("n_true").cast("double"))
          .cast("double"))
      .withColumn("theoretical_recall", theory.cast("double"))
      .orderBy("bucket")
  }

  val queries: Map[String, Q] = Map(
    "q151_similarity_join" -> q151SimilarityJoin _,
    "q158_source_overlap" -> q158SourceOverlap _,
    "q166_lsh_recall" -> q166LshRecall _,
    "q146_containment" -> q146Containment _,
    "q122_leakage_split" -> q122LeakageSplit _,
    "q86_incremental_dedup" -> q86IncrementalDedup _,
    "q93_dedup_corpus" -> q93DedupCorpus _,
    "q46_minhash_neardup" -> q46MinhashNearDup _,
    "q47_simhash_fingerprint" -> q47SimhashFingerprint _,
    "q48_simhash_neardup" -> q48SimhashNearDup _,
    "q77_dedup_clusters" -> q77DedupClusters _,
    "q266_starcc_clusters" -> q266StarccClusters _,
    "q272_lsh_tuner" -> q272LshTuner _,
    "q220_quality_survivor" -> q220QualitySurvivor _,
  )

  // ---- DuckDB oracle SQL for the hash-internal kernels ----
  // The FNV-1a / rotate / minhash arithmetic is replicated exactly in
  // DuckDB by working in the unsigned-64 domain as HUGEINT mod 2^64
  // (DuckDB BIGINT/UBIGINT arithmetic raises on overflow; HUGEINT
  // holds every intermediate: h < 2^64, prime ~ 2^40 → product < 2^104).
  // Parity with the kernels rests on DedupSpec (no negative divisor
  // literal in any oracle SQL; MinHash coefficients equal to the
  // kernel's) and on the oracle gate's final-output compare. Shingle
  // sets, signatures and fingerprints are not compared directly, and
  // final outputs agree on most corpora even when they differ.

  /** FNV-1a 64-bit over a token, as HUGEINT mod 2^64. Mirrors
    * Dedup.hash64 (offset 0xcbf29ce484222325, prime 0x100000001b3). */
  private def fnvSql(tok: String): String =
    s"""list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(string_split($tok, ''), c -> CAST(unicode(c) AS HUGEINT))),
       |    (a, b) -> CAST(xor(CAST(a AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
       |      * 1099511628211 % 18446744073709551616)""".stripMargin

  /** rotl64 in the unsigned-HUGEINT domain: low bits shift up mod
    * 2^64, high bits wrap down; the two parts are disjoint so + = |. */
  private def rotlSql(x: String, k: Int): String =
    s"(($x) * ${BigInt(1) << k} % 18446744073709551616 + ($x) // ${BigInt(1) << (64 - k)})"

  /** MinHash(16) signature + 4x4 LSH banding CTEs — the exact-parity
    * kernel shared verbatim by the q46/q77/q86/q93 oracles (a
    * coefficient tweak applied to one copy would silently break the
    * others, so there is only one copy). */
  private[queries] val sigBandedCtes = {
    import graft.operators.Dedup.{AMul, BAdd, BMul, CoefPrime, P}
    s"""sig AS (
      |  SELECT doc_id, sh,
      |    list_transform(generate_series(1, 16), i ->
      |      list_aggregate(list_transform(sh, x ->
      |        (((($AMul * i) % $CoefPrime) | 1) * CAST(x % 4294967296 AS BIGINT)
      |          + ($BMul * i + $BAdd) % $CoefPrime) % $P),
      |        'min')) AS sig
      |  FROM sh),
      |banded AS (
      |  SELECT doc_id, b.band_idx, sig[b.band_idx*4+1 : b.band_idx*4+4] AS band
      |  FROM sig, (SELECT unnest(generate_series(0,3)) AS band_idx) b)""".stripMargin
  }

  /** Unfiltered within-corpus LSH candidate pairs (id_a < id_b) from
    * `banded` — shared by the q77 and q147 oracles. */
  private[queries] val cpairsCte =
    """cpairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin

  /** Jaccard-verify (≥ 0.2) of `cpairs` against the `sh` shingle sets
    * — the edge set of the near-dup graph (q77/q93/q105/q147). */
  private[queries] val verifiedCte =
    """verified AS (
      |  SELECT p.id_a, p.id_b
      |  FROM cpairs p
      |  JOIN sh sa ON sa.doc_id = p.id_a
      |  JOIN sh sb ON sb.doc_id = p.id_b
      |  WHERE CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
      |      / (len(sa.sh) + len(sb.sh)
      |         - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) >= 0.2)""".stripMargin

  /** `verified` + symmetric edges + recursive reachability — the
    * connected-component tail shared by the q77/q93/q105 oracles
    * (reads the `cpairs` and `sh` CTEs defined upstream; same
    * one-copy doctrine as sigBandedCtes). */
  private[queries] val ccReachCtes =
    s"""$verifiedCte,
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM verified
      |  UNION ALL SELECT id_b, id_a FROM verified),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src)""".stripMargin

  /** Min-label non-survivors from `reach` — q93/q105's drop set. */
  private[queries] val ccLosersCte =
    """losers AS (
      |  SELECT id FROM (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
      |  WHERE id != cluster_id)""".stripMargin

  /** Canonical-form md5 fingerprint (TextAnalysis.fingerprint parity). */
  private[queries] val fingerprintSql =
    """md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"""

  /** Per-document token FNV hashes (th) — the shared first stage. */
  private[queries] val tokHashCte =
    s"""tok AS (
       |  SELECT doc_id,
       |    list_transform(regexp_split_to_array(lower(trim(text)), ' +'),
       |      t -> ${fnvSql("t")}) AS th
       |  FROM documents)""".stripMargin

  /** Distinct sorted 3-gram shingle hashes — mirrors
    * Dedup.shingleHashes incl. the short-text whole-text fallback. */
  private[queries] val shinglesCte =
    s"""sh AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(CASE WHEN len(th) >= 3 THEN
       |      list_transform(generate_series(1, len(th)-2), g ->
       |        xor(xor(CAST(${rotlSql("th[g]", 1)} AS UBIGINT),
       |                CAST(${rotlSql("th[g+1]", 22)} AS UBIGINT)),
       |            CAST(${rotlSql("th[g+2]", 43)} AS UBIGINT)))
       |    ELSE
       |      [CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), th),
       |        (a, x) -> CAST(xor(CAST(${rotlSql("a", 5)} AS UBIGINT),
       |          CAST(x AS UBIGINT)) AS HUGEINT)) AS UBIGINT)]
       |    END)) AS sh
       |  FROM tok)""".stripMargin

  /** 64-bit SimHash from token hashes — mirrors Dedup.simhash64
    * (per-bit ±1 vote, strict majority sets the bit), emitted as the
    * signed BIGINT Spark produces. */
  private val simhashCte =
    s"""sig AS (
       |  SELECT doc_id,
       |    list_aggregate(list_transform(generate_series(0, 63), b ->
       |      CASE WHEN 2 * len(list_filter(th,
       |          x -> x // (CAST(1 AS HUGEINT) << b) % 2 = 1)) - len(th) > 0
       |        THEN (CAST(1 AS HUGEINT) << b) ELSE CAST(0 AS HUGEINT) END),
       |      'sum') AS u
       |  FROM tok)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q166_lsh_recall" ->
      s"""WITH $tokHashCte,
         |$shinglesCte,
         |$sigBandedCtes,
         |$cpairsCte,
         |exsh AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |tp AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM exsh a JOIN exsh b ON a.g = b.g AND a.doc_id < b.doc_id),
         |truth AS (
         |  SELECT p.id_a, p.id_b,
         |    CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
         |      AS DOUBLE)
         |      / (len(sa.sh) + len(sb.sh)
         |         - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))))
         |      AS jaccard
         |  FROM tp p
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b),
         |t2 AS (SELECT id_a, id_b, jaccard FROM truth WHERE jaccard >= 0.05),
         |jj AS (
         |  SELECT t2.jaccard,
         |    CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS caught
         |  FROM t2 LEFT JOIN cpairs c
         |    ON c.id_a = t2.id_a AND c.id_b = t2.id_b),
         |bk AS (
         |  SELECT least(CAST(floor(jaccard / 0.1) AS INTEGER), 9) AS bucket,
         |    caught
         |  FROM jj)
         |SELECT CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n_true,
         |  CAST(SUM(caught) AS BIGINT) AS n_caught,
         |  CAST(CAST(SUM(caught) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS DOUBLE) AS recall,
         |  CAST(round(1.0 - pow(1.0
         |    - pow(CAST(bucket AS DOUBLE) * 0.1 + 0.05, 4.0), 4.0), 6)
         |    AS DOUBLE) AS theoretical_recall
         |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q158_source_overlap" ->
      """WITH t AS (SELECT source,
        |    regexp_split_to_array(lower(trim(text)), ' +') AS toks
        |  FROM documents),
        |sv AS (SELECT DISTINCT source,
        |    unnest(list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[i:i+2], ' ')))) AS g
        |  FROM t),
        |tot AS (SELECT source, COUNT(*) AS vocab FROM sv GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    COUNT(*) AS shared
        |  FROM sv a JOIN sv b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, ta.vocab AS vocab_a, tb.vocab AS vocab_b,
        |  shared,
        |  CAST(CAST(shared AS DOUBLE)
        |    / CAST(ta.vocab + tb.vocab - shared AS DOUBLE) AS DOUBLE)
        |    AS jaccard
        |FROM sh
        |JOIN tot ta ON ta.source = sh.source_a
        |JOIN tot tb ON tb.source = sh.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    "q151_similarity_join" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), ' +') AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sset
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT)
        |      AS intersection_size,
        |    CAST(len(a.sset) + len(b.sset)
        |      - len(list_intersect(a.sset, b.sset)) AS BIGINT) AS union_size
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, intersection_size, union_size,
        |  CAST(CAST(intersection_size AS DOUBLE) / union_size AS DOUBLE)
        |    AS jaccard
        |FROM p
        |WHERE CAST(intersection_size AS DOUBLE) / union_size >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q146_containment" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), ' +') AS toks
        |  FROM documents),
        |g0 AS (SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(toks) - 6, 1)),
        |      i -> array_to_string(toks[i:i+7], ' '))) AS gram FROM t),
        |g AS (SELECT DISTINCT doc_id, gram FROM g0),
        |rare AS (SELECT gram FROM g GROUP BY gram
        |         HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 5),
        |cand AS (SELECT g.* FROM g JOIN rare USING (gram)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM cand a JOIN cand b
        |    ON a.gram = b.gram AND a.doc_id != b.doc_id),
        |v AS (
        |  SELECT p.doc_a, p.doc_b,
        |    CAST(len(list_distinct(ta.toks)) AS INTEGER) AS tokens_a,
        |    CAST(len(list_filter(list_distinct(ta.toks),
        |      x -> list_contains(tb.toks, x))) AS INTEGER) AS overlap
        |  FROM pairs p
        |  JOIN t ta ON ta.doc_id = p.doc_a
        |  JOIN t tb ON tb.doc_id = p.doc_b)
        |SELECT doc_a, doc_b, tokens_a, overlap,
        |  CAST(CAST(overlap AS DOUBLE) / tokens_a AS DOUBLE) AS containment
        |FROM v
        |WHERE CAST(overlap AS DOUBLE) / tokens_a >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // MinHash(16) h_i(x) = (a_i·x32 + b_i) mod p with the exact Scala
    // coefficients; LSH bands are compared by CONTENT (band-slice
    // equality) — Spark buckets on murmur3 of the slice, which is
    // injective on these fixtures (equal hashes ⇔ equal slices).
    "q46_minhash_neardup" ->
      s"""WITH $tokHashCte,
         |$shinglesCte,
         |$sigBandedCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id),
         |verified AS (
         |  SELECT p.id_a, p.id_b,
         |    len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS isz,
         |    len(sa.sh) + len(sb.sh)
         |      - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS usz
         |  FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b)
         |SELECT id_a, id_b,
         |  CAST(isz AS INTEGER) AS intersection_size,
         |  CAST(usz AS INTEGER) AS union_size,
         |  CAST(CAST(isz AS DOUBLE) / usz AS DOUBLE) AS jaccard
         |FROM verified
         |WHERE CAST(isz AS DOUBLE) / usz >= 0.2
         |ORDER BY id_a, id_b""".stripMargin,
    "q86_incremental_dedup" ->
      s"""WITH $tokHashCte,
         |$shinglesCte,
         |$sigBandedCtes,
         |rawp AS (
         |  SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id),
         |cpairs AS (
         |  SELECT DISTINCT CASE WHEN x % 10 = 0 THEN x ELSE y END AS ia,
         |         CASE WHEN x % 10 = 0 THEN y ELSE x END AS ib
         |  FROM rawp WHERE (x % 10 = 0) != (y % 10 = 0)),
         |near AS (
         |  SELECT p.ia AS doc_id, MIN(p.ib) AS near_match
         |  FROM cpairs p
         |  JOIN sh sa ON sa.doc_id = p.ia
         |  JOIN sh sb ON sb.doc_id = p.ib
         |  WHERE CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
         |      / (len(sa.sh) + len(sb.sh)
         |         - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) >= 0.2
         |  GROUP BY 1),
         |fpt AS (
         |  SELECT doc_id, $fingerprintSql AS fp
         |  FROM documents),
         |exact AS (
         |  SELECT i.doc_id, MIN(c.doc_id) AS exact_match
         |  FROM fpt i JOIN fpt c
         |    ON i.fp = c.fp AND i.doc_id % 10 = 0 AND c.doc_id % 10 != 0
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
         |       WHEN n.near_match IS NOT NULL THEN 'near_dup'
         |       ELSE 'novel' END AS verdict,
         |  COALESCE(e.exact_match, n.near_match) AS match_doc_id
         |FROM documents d
         |LEFT JOIN exact e ON e.doc_id = d.doc_id
         |LEFT JOIN near n ON n.doc_id = d.doc_id
         |WHERE d.doc_id % 10 = 0
         |ORDER BY d.doc_id""".stripMargin,
    "q93_dedup_corpus" ->
      s"""WITH RECURSIVE $tokHashCte,
         |$shinglesCte,
         |$sigBandedCtes,
         |cpairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id),
         |$ccReachCtes,
         |$ccLosersCte
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY doc_id""".stripMargin,
    // Connected components as a recursive transitive closure: every
    // vertex reaches itself; reachability propagates along symmetric
    // edges; MIN over reached ids = the cluster label (UNION dedups,
    // so the recursion terminates). Near-dup components are tiny, so
    // the closure stays small even though it is quadratic per
    // component in the worst case.
    "q77_dedup_clusters" ->
      s"""WITH RECURSIVE $tokHashCte,
         |$shinglesCte,
         |$sigBandedCtes,
         |$cpairsCte,
         |$ccReachCtes,
         |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT id AS doc_id, cluster_id,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
         |  id = cluster_id AS is_survivor
         |FROM lab ORDER BY cluster_id, doc_id""".stripMargin,
    // q272: the S-curve by literal multiplication chains (left-assoc,
    // matching the Scala folds exactly — no pow), micro fixed-point.
    "q272_lsh_tuner" -> {
      val sm = "(CAST(bin AS DOUBLE) * CAST(0.1 AS DOUBLE) + CAST(0.05 AS DOUBLE))"
      def cfg(bands: Int, rows: Int): String = {
        val sr = Seq.fill(rows)(sm).mkString(" * ")
        val miss = Seq.fill(bands)(s"(1.0 - ($sr))").mkString(" * ")
        s"""SELECT $bands AS bands, $rows AS rows_per_band, bin, cnt,
           |    CAST(FLOOR((1.0 - ($miss)) * 1000000.0) AS BIGINT) AS p_micro
           |  FROM hist""".stripMargin
      }
      val cfgs = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
        .map((cfg _).tupled).mkString("\n  UNION ALL\n")
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    list_distinct(regexp_split_to_array(lower(trim(text)), ' +')) AS t
         |  FROM documents),
         |j AS (
         |  SELECT CAST(CAST(len(list_filter(a.t, x -> list_contains(b.t, x))) AS DOUBLE)
         |    / (len(a.t) + len(b.t) - len(list_filter(a.t, x -> list_contains(b.t, x))))
         |    AS DOUBLE) AS jaccard
         |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1),
         |hist AS (
         |  SELECT LEAST(CAST(FLOOR(jaccard * 10) AS INTEGER), 9) AS bin,
         |    COUNT(*) AS cnt
         |  FROM j GROUP BY 1),
         |p AS (
         |  $cfgs),
         |w AS (
         |  SELECT bands, rows_per_band,
         |    CAST(SUM(CASE WHEN bin >= 2 THEN cnt * (1000000 - p_micro) ELSE 0 END)
         |      AS BIGINT) AS fn_weight,
         |    CAST(SUM(CASE WHEN bin < 2 THEN cnt * p_micro ELSE 0 END)
         |      AS BIGINT) AS fp_weight
         |  FROM p GROUP BY 1, 2)
         |SELECT bands, rows_per_band, fn_weight, fp_weight,
         |  fn_weight + fp_weight AS total_error,
         |  CAST(ROW_NUMBER() OVER (ORDER BY fn_weight + fp_weight ASC, bands ASC)
         |    AS INTEGER) AS pick_rank
         |FROM w ORDER BY bands""".stripMargin
    },
    // q266 shares q77's oracle VERBATIM: star contraction and
    // min-label propagation must produce the identical component-min
    // labeling — the algorithm-equivalence certificate.
    "q266_starcc_clusters" ->
      s"""WITH RECURSIVE $tokHashCte,
         |$shinglesCte,
         |$sigBandedCtes,
         |$cpairsCte,
         |$ccReachCtes,
         |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT id AS doc_id, cluster_id,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
         |  id = cluster_id AS is_survivor
         |FROM lab ORDER BY cluster_id, doc_id""".stripMargin,
    // q77's clustering kernel + the q42 quality score: one survivor
    // per cluster by (quality DESC, doc_id) — singletons self-cluster
    "q220_quality_survivor" ->
      s"""WITH RECURSIVE $tokHashCte,
         |$shinglesCte,
         |$sigBandedCtes,
         |$cpairsCte,
         |$ccReachCtes,
         |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |scored AS (
         |  SELECT doc_id, ${Extended.qualitySql} AS quality FROM documents),
         |u AS (
         |  SELECT s.doc_id, COALESCE(l.cluster_id, s.doc_id) AS cluster_id,
         |    s.quality
         |  FROM scored s LEFT JOIN lab l ON s.doc_id = l.id)
         |SELECT doc_id, cluster_id,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |    AS cluster_size,
         |  quality,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY quality DESC, doc_id) = 1 AS is_survivor
         |FROM u ORDER BY cluster_id, doc_id""".stripMargin,
    // same clustering kernel as q77, then group-keyed md5 split
    // assignment (the q79 fraction idiom over group ids)
    "q122_leakage_split" ->
      s"""WITH RECURSIVE $tokHashCte,
         |$shinglesCte,
         |$sigBandedCtes,
         |$cpairsCte,
         |$ccReachCtes,
         |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |g AS (
         |  SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN lab ON lab.id = d.doc_id),
         |u AS (
         |  SELECT doc_id, group_id,
         |    CAST(CAST('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) AS DOUBLE) / 281474976710656.0 AS frac
         |  FROM g)
         |SELECT doc_id, group_id,
         |  CASE WHEN frac < 0.8 THEN 'train'
         |       WHEN frac < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM u ORDER BY doc_id""".stripMargin,
    "q47_simhash_fingerprint" ->
      s"""WITH $tokHashCte,
         |$simhashCte
         |SELECT doc_id,
         |  CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
         |       ELSE u END AS BIGINT) AS simhash
         |FROM sig ORDER BY doc_id""".stripMargin,
    "q48_simhash_neardup" ->
      s"""WITH $tokHashCte,
         |$simhashCte,
         |chunked AS (
         |  SELECT doc_id, u, j.chunk_idx,
         |    u // (CAST(1 AS HUGEINT) << (j.chunk_idx * 8)) % 256 AS chunk
         |  FROM sig, (SELECT unnest(generate_series(0, 7)) AS chunk_idx) j),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.u AS u_a, b.u AS u_b
         |  FROM chunked a JOIN chunked b
         |    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(CAST(u_a AS UBIGINT), CAST(u_b AS UBIGINT))) AS INTEGER) AS hamming
         |FROM pairs
         |WHERE bit_count(xor(CAST(u_a AS UBIGINT), CAST(u_b AS UBIGINT))) <= 7
         |ORDER BY id_a, id_b""".stripMargin,
  )
}
