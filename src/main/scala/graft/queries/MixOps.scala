package graft.queries

import graft.Tables
import graft.Tables.documents
import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 training-data curation additions: repetition-based quality
  * signals (Gopher-style), train/test n-gram decontamination
  * (GPT-3 appendix-C style), greedy maximal-marginal-relevance
  * selection over embeddings, and temperature-based source mixture
  * weights — the four curation decisions a pretraining-data team
  * makes after dedup/quality filtering (cf. Rae et al. 2021 "Scaling
  * Language Models" §A1.1; Brown et al. 2020 §C; Carbonell &
  * Goldstein 1998 MMR; Conneau & Lample 2019 §3 temperature
  * sampling). The reference pipeline's DQ-gate philosophy
  * (data_quality/dq_rules.yml) extended to corpus curation.
  */
object MixOps {

  type Q = (SparkSession, String) => DataFrame

  private def toks: Column =
    filter(TextAnalysis.tokens(col("text")), t => t =!= "")

  /** q208 — Gopher-style repetition signals, one scan, zero shuffle:
    * every statistic is a higher-order-function fold over the per-doc
    * token array (the per-doc O(distinct x n) top-word count is
    * bounded by document length, not corpus size), so at 100 TB this
    * runs at parquet scan speed with no aggregation stage at all —
    * the same shape as q40/q42. Signals: type-token ratio, most
    * frequent word's mass, duplicate-trigram mass; flagged =
    * thresholds from the Gopher repetition family adapted to this
    * corpus's short synthetic docs. */
  def q208RepetitionSignals(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"), toks.as("toks"))
    val n = size(col("toks"))
    val topCnt = coalesce(
      array_max(transform(array_distinct(col("toks")),
        t => size(filter(col("toks"), x => x === t)))), lit(0))
    val trigrams = when(n >= 3,
      transform(sequence(lit(1), n - 2), i => concat_ws(" ",
        element_at(col("toks"), i), element_at(col("toks"), i + 1),
        element_at(col("toks"), i + 2))))
      .otherwise(array().cast("array<string>"))
    d.select(col("doc_id"), n.as("token_count"),
        size(array_distinct(col("toks"))).as("distinct_tokens"),
        topCnt.as("top_word_count"), trigrams.as("tg"))
      .withColumn("trigram_count", size(col("tg")))
      .withColumn("distinct_trigrams", size(array_distinct(col("tg"))))
      .select(
        col("doc_id"), col("token_count"), col("distinct_tokens"),
        (col("distinct_tokens").cast("double") /
          greatest(col("token_count"), lit(1)).cast("double"))
          .as("type_token_ratio"),
        (col("top_word_count").cast("double") /
          greatest(col("token_count"), lit(1)).cast("double"))
          .as("top_word_frac"),
        col("trigram_count"),
        when(col("trigram_count") > 0,
          lit(1.0) - col("distinct_trigrams").cast("double") /
            col("trigram_count").cast("double"))
          .otherwise(lit(0.0)).as("dup_trigram_frac"))
      .withColumn("flagged_repetitive",
        col("top_word_frac") > 0.2 || col("dup_trigram_frac") > 0.3)
      .orderBy("doc_id")
  }

  /** md5-fraction holdout split (the q79/q122 sampling idiom): the
    * first 12 hex digits of md5(doc_id) as a uniform in [0,1);
    * below [[TestFrac]] = held-out eval set. */
  private val TestFrac = 0.1
  private def docFrac: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
      .cast("double") / lit(281474976710656.0)

  /** q209 — train-set decontamination by 5-gram collision with the
    * held-out split (the GPT-3 appendix-C discipline: any training
    * document sharing an n-gram with an eval document is flagged).
    * Scale: distinct 5-grams explode to an n-gram-keyed hash join —
    * the shuffle key is the gram, never a doc pair, so skew is
    * bounded by gram frequency; in the real deployment the eval-side
    * gram set is tiny relative to the corpus (it is 10% here only
    * because the fixture has one table) and broadcasts, making the
    * whole check a map-side semi-join over the training scan. */
  def q209Decontamination(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), toks.as("toks"), docFrac.as("frac"))
    val grams = d.select(col("doc_id"), col("frac"),
      explode(when(size(col("toks")) >= 5,
        array_distinct(transform(sequence(lit(1), size(col("toks")) - 4),
          i => concat_ws(" ",
            element_at(col("toks"), i), element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2), element_at(col("toks"), i + 3),
            element_at(col("toks"), i + 4)))))
        .otherwise(array().cast("array<string>"))).as("gram"))
    // gated two-sided gram-exchange sizing (ExplodedJoin scaladoc —
    // the q225 sf100 spill's hazard class; round-10 sweep): both join
    // inputs through the same sizer, distinct reuses the partitioning
    val sized = ExplodedJoin.sizer(s,
      Tables.documentCount(s, dir) * 64L, col("gram"))
    val testGrams = sized(grams.filter(col("frac") < TestFrac))
      .select("gram").distinct()
    val shared = sized(grams.filter(col("frac") >= TestFrac))
      .join(testGrams, "gram")
      .groupBy("doc_id")
      .agg(count_distinct(col("gram")).as("shared_ngrams"))
    d.filter(col("frac") >= TestFrac).select("doc_id")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("shared_ngrams"), lit(0L)).as("shared_ngrams"))
      .withColumn("contaminated", col("shared_ngrams") > 0)
      .orderBy("doc_id")
  }

  /** q239 — Bloom-prefiltered decontamination: q209's exact train/
    * eval 5-gram check with the corpus-side shuffle cut by a bloom
    * filter of the eval gram set (the q98 semi-join-reduction idiom
    * applied to the curation layer). The eval set is small by
    * construction, so its grams build one `graft_bloom_agg` byte
    * array on the driver (bounded: ≤ the eval gram count, capped)
    * and ride into the corpus scan as a literal — every training
    * gram probes the filter at scan speed and only probable hits
    * enter the exact semi-join. False positives die in the join, so
    * the output is BIT-IDENTICAL to the exact check (the oracle IS
    * q209's exact SQL — that identity is the correctness claim);
    * false negatives are impossible by bloom construction. At 100 TB
    * this converts a full corpus-gram shuffle into a map-side
    * prefilter whose pass-through volume is the contamination rate
    * plus the FP budget — the only reason a production
    * decontamination pass over petabytes is affordable. */
  def q239BloomDecontam(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), toks.as("toks"), docFrac.as("frac"))
    val grams = d.select(col("doc_id"), col("frac"),
      explode(when(size(col("toks")) >= 5,
        array_distinct(transform(sequence(lit(1), size(col("toks")) - 4),
          i => concat_ws(" ",
            element_at(col("toks"), i), element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2), element_at(col("toks"), i + 3),
            element_at(col("toks"), i + 4)))))
        .otherwise(array().cast("array<string>"))).as("gram"))
    // Two-sided gram-exchange sizing (ExplodedJoin, round-10 sweep)
    // as the SATURATION BACKSTOP: the bloom capacity is bounded by
    // the plan-literal budget below, so an eval set past the cap
    // saturates the filter and the pass-through approaches the full
    // gram frame — q209's exact shape, which must then run at q209's
    // sized partitioning instead of spilling the 8-partition SMJ sort
    // (measured at sf100/cpus=8: 22.5 GB mem + 1.5 GB disk spill
    // before this backstop, zero after). Sizing is applied AFTER the
    // scan-speed probe, so a healthy bloom's exchange still carries
    // only the FP-bounded pass-through.
    val sized = ExplodedJoin.sizer(s,
      Tables.documentCount(s, dir) * 64L, col("gram"))
    val testGrams = sized(grams.filter(col("frac") < TestFrac))
      .select("gram").distinct()
    val trainGrams = grams.filter(col("frac") >= TestFrac)
    // capacity tracks the measured eval-gram count up to ~7 MB of
    // filter bytes (8M keys at 3% fpp) — the task-binary budget a
    // plan literal must respect; the 1M cap this replaces saturated
    // one decade early (sf100's ~20M eval grams pushed FP toward 1
    // and re-created the unsized q209 join wholesale)
    val nKeys = math.min(math.max(testGrams.count(), 1L), 8000000L)
    val bloomBytes = testGrams
      .agg(call_function("graft_bloom_agg",
        xxhash64(col("gram")), lit(nKeys)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val probed = trainGrams.filter(call_function("graft_might_contain",
      lit(bloomBytes), xxhash64(col("gram"))))
    val shared = sized(probed).join(testGrams, "gram")
      .groupBy("doc_id")
      .agg(count_distinct(col("gram")).as("shared_ngrams"))
    d.filter(col("frac") >= TestFrac).select("doc_id")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("shared_ngrams"), lit(0L)).as("shared_ngrams"))
      .withColumn("contaminated", col("shared_ngrams") > 0)
      .orderBy("doc_id")
  }

  /** q241 — contamination ATTRIBUTION: q209 says WHETHER a training
    * document collides with the held-out set; this emits the audit
    * trail a release actually ships — which eval document each
    * contaminated train doc shares 5-grams with, and how many (the
    * per-benchmark overlap tables in GPT-3 appendix C / PaLM §8 are
    * exactly this join). Plan: the same gram-keyed shuffle as q209,
    * then (train_doc, eval_doc) pair counts — the pair fan-out per
    * gram is df_train(g) x df_eval(g), bounded in practice by the
    * eval set's size and the corpus's contamination rate; a
    * production run on adversarial data adds the q146 rare-gram
    * df cap, which only drops pairs already attributed through
    * rarer (more identifying) grams. Output is Ω(pairs) — the audit
    * is inherently pair-shaped, and pairs ≈ contaminated docs. */
  def q241ContaminationPairs(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), toks.as("toks"), docFrac.as("frac"))
    val grams = d.select(col("doc_id"), col("frac"),
      explode(when(size(col("toks")) >= 5,
        array_distinct(transform(sequence(lit(1), size(col("toks")) - 4),
          i => concat_ws(" ",
            element_at(col("toks"), i), element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2), element_at(col("toks"), i + 3),
            element_at(col("toks"), i + 4)))))
        .otherwise(array().cast("array<string>"))).as("gram"))
    // Gated sizing for BOTH corpus-decoupled key families here
    // (ExplodedJoin, round-10 sweep): the gram join, and then the
    // PAIR-keyed frames it emits — on the self-similar replica corpus
    // the (train_doc, eval_doc) output is itself exploded-frame-sized
    // (~8 GB of pair-gram rows at sf100), so the pair aggregate and
    // the final total order each put ~1 GB+ through every default-
    // partition sort (measured at sf100/cpus=8: 49 GB mem + 6.5 GB
    // disk spill across those two stages before this fix, with the
    // gram join itself already sized and clean). Output stays
    // Ω(pairs) by the audit's nature — sizing fixes the per-sort
    // footprint, not the (inherent) volume.
    val nDocs = Tables.documentCount(s, dir)
    val sized = ExplodedJoin.sizer(s, nDocs * 64L, col("gram"))
    val pairSized = ExplodedJoin.sizer(s, nDocs * 64L,
      col("train_doc"), col("eval_doc"))
    val ordered = ExplodedJoin.orderedSizer(s, nDocs * 64L,
      col("train_doc"), col("eval_doc"))
    val evalGrams = sized(grams.filter(col("frac") < TestFrac))
      .select(col("doc_id").as("eval_doc"), col("gram"))
    ordered(pairSized(
      sized(grams.filter(col("frac") >= TestFrac))
        .select(col("doc_id").as("train_doc"), col("gram"))
        .join(evalGrams, "gram"))
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("shared_ngrams")))
  }

  /** q210 — greedy maximal marginal relevance: pick k=5 vectors
    * maximizing 0.7·relevance(query) − 0.3·max-similarity(already
    * picked) — the diversity-aware selection used for dataset
    * seeding / eval-set curation. Inherently sequential in k; each
    * round is ONE distributed argmax pass (the selected set — at
    * most k vectors — rides into the scan as plan literals, so no
    * join, no shuffle beyond the 1-row top-k), which is exactly how
    * it runs on a 1000-executor corpus scan. Exact integer dot
    * products (the q49 quantization) keep every score bit-identical
    * to the oracle's 5 unrolled greedy levels. */
  def q210MmrSelect(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
    val qrow = c.filter(col("vec_id") === 0).head
    val qlit = array(qrow.getSeq[Long](1).map(lit): _*)
    val cands = c.filter(col("vec_id") =!= 0)
      .withColumn("rel", Similarity.cosineQ(col("v"), qlit))
      .persist()
    var picked = Vector.empty[(Long, Seq[Long], Double, Double, Double)]
    for (rank <- 1 to 5) {
      val simCols = picked.map { case (_, sv, _, _, _) =>
        Similarity.cosineQ(col("v"), array(sv.map(lit): _*)) }
      val maxSim =
        if (simCols.isEmpty) lit(0.0)
        else if (simCols.size == 1) simCols.head
        else greatest(simCols: _*)
      val scored = cands
        .filter(!col("vec_id").isInCollection(picked.map(_._1) match {
          case Nil => Seq(-1L); case xs => xs }))
        .withColumn("max_sim_selected", maxSim.cast("double"))
        .withColumn("score",
          (lit(0.7) * col("rel") - lit(0.3) * col("max_sim_selected"))
            .cast("double"))
      val top = scored.orderBy(col("score").desc, col("vec_id")).limit(1)
        .select("vec_id", "v", "rel", "max_sim_selected", "score").head
      picked :+= ((top.getLong(0), top.getSeq[Long](1), top.getDouble(2),
        top.getDouble(3), top.getDouble(4)))
    }
    cands.unpersist(blocking = false)
    val out = picked.zipWithIndex.map { case ((id, _, rel, ms, sc), i) =>
      (i + 1, id, rel, ms, sc) }
    s.createDataFrame(out)
      .toDF("rank", "vec_id", "relevance", "max_sim_selected", "score")
      .orderBy("rank")
  }

  /** q211 — temperature-based mixture weights over sources (the
    * multilingual-pretraining resampling rule: p_s ∝ share_s^(1/T)
    * with 1/T = 0.5, i.e. sqrt — upweights tail sources, damps the
    * head). All double arithmetic rides on exact integer token
    * counts; the sqrt weights are quantized to integer nano-units
    * before the normalizing sum so the cross-source summation order
    * cannot perturb the result — the same determinism discipline as
    * the KMV/CMS sketches. One tiny aggregate (|sources| rows) after
    * a scan-speed token count: nothing here grows with corpus size
    * except the first groupBy. */
  def q211MixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val bySrc = documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("bigint")).as("n_tokens"))
    val tot = bySrc.agg(sum("n_tokens").as("total_tokens"))
    val wq = bySrc.crossJoin(tot)
      .withColumn("token_share",
        (col("n_tokens").cast("double") / col("total_tokens").cast("double"))
          .cast("double"))
      .withColumn("wq",
        round(sqrt(col("token_share")) * lit(1000000000.0)).cast("bigint"))
    val wtot = wq.agg(sum("wq").as("wq_total"))
    wq.crossJoin(wtot)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("token_share"),
        (col("wq").cast("double") / col("wq_total").cast("double"))
          .cast("double").as("mixture_weight"))
      .withColumn("expected_tokens",
        round(col("mixture_weight") * lit(1000000.0)).cast("bigint"))
      .withColumn("sampling_factor",
        (col("expected_tokens").cast("double") / col("n_tokens").cast("double"))
          .cast("double"))
      .orderBy("source")
  }

  /** q252 — UniMax budget allocation (Chung et al. 2023 "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining", Algorithm 1): distribute a total
    * token budget across sources by WATER-FILLING under a per-source
    * epoch cap — sources too small to absorb an equal share are
    * granted at most `epochCap` epochs of their own data, and the
    * leftover budget re-spreads over the remaining (larger) sources.
    * The principled alternative to q211's temperature heuristic:
    * explicit repetition bounds instead of a global exponent.
    *
    * All arithmetic is integer (floor divisions; epochs reported in
    * fixed-point millionths), so the DuckDB oracle replays the
    * sequential fill exactly with a recursive CTE. Distributed work
    * is the per-source token count (one scan + |sources|-group agg);
    * the fill itself touches k = |sources| rows — a bounded driver
    * loop in the codebook-collect idiom (k is domain cardinality,
    * never data volume). */
  def q252UnimaxAlloc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val epochCap = 4L
    val bySrc = documents(s, dir)
      .groupBy("source")
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("bigint")).as("n_tokens"))
      .as[(String, Long)].collect()
      .sortBy { case (src, n) => (n, src) } // ascending fill order
    val budget = bySrc.map(_._2).sum / 3 // fixed corpus fraction
    val k = bySrc.length
    var remaining = budget
    val filled = bySrc.zipWithIndex.map { case ((src, n), i) =>
      val fairShare = remaining / (k - i)
      val alloc = math.min(epochCap * n, fairShare)
      remaining -= alloc
      (src, n, alloc, alloc * 1000000L / n, alloc == epochCap * n)
    }
    filled.toSeq
      .toDF("source", "n_tokens", "alloc_tokens", "epochs_e6", "capped")
      .orderBy("source")
  }

  /** q218 — fastText-shaped hashed linear quality classifier
    * (Joulin et al. 2016 "Bag of Tricks for Efficient Text
    * Classification"; the MODEL-BASED filter of CCNet/FineWeb-Edu —
    * Wenzek et al. 2020 §4.4 — where a linear scorer, not a rule,
    * decides keep/drop). Features are unigrams plus '_'-joined
    * bigrams, hashed into 1024 buckets (hashing trick, md5-derived so
    * DuckDB replays it); each bucket carries a FIXED deterministic
    * fixed-point weight in [-1.000, 1.000] (Knuth multiplicative hash
    * of the bucket id) standing in for trained coefficients — the
    * real deployment broadcasts a learned weight array, but the plan
    * is identical. Inference is one higher-order-function fold over
    * the token array: zero shuffle, zero join, scan speed — at 100 TB
    * a linear classifier costs exactly one pass over the corpus,
    * which is the whole point of the fastText family. */
  def q218HashClassifier(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"), toks.as("toks"))
    val bigrams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws("_",
          element_at(col("toks"), i), element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    def weightFp(f: Column): Column = {
      val bucket =
        pmod(conv(substring(md5(f), 1, 8), 16, 10).cast("bigint"), lit(1024L))
      pmod(bucket * lit(2654435761L), lit(2001L)) - lit(1000L)
    }
    d.select(col("doc_id"), concat(col("toks"), bigrams).as("feats"))
      .select(col("doc_id"),
        size(col("feats")).cast("bigint").as("n_features"),
        aggregate(col("feats"), lit(0L), (acc, f) => acc + weightFp(f))
          .as("score_fp"))
      .withColumn("quality_label", col("score_fp") > 0)
      .orderBy("doc_id")
  }

  /** q238 — IN-PIPELINE TRAINED quality classifier: q218's
    * fastText-shaped hashed feature space, but the weights are
    * LEARNED inside the pipeline by two full-batch perceptron rounds
    * (Rosenblatt 1958; the train-then-filter discipline of
    * FineWeb-Edu and DCLM, where a linear scorer is fit against a
    * teacher signal and then applied to the whole corpus — here the
    * teacher is the rule-based q42 quality score at the corpus-median
    * cut, the same bootstrap CCNet §4.4 uses when no labeled set
    * exists). Everything is integer: labels y ∈ {+1,−1}, features
    * are (bucket, count) over 1024 md5-hashed unigram+bigram
    * buckets, and the perceptron update w += Σ_misclassified y·x
    * stays in BIGINT, so both engines replay the two training rounds
    * bit-exactly (w₀ = 0 makes every doc misclassified in round 1 —
    * w₁ is the class-difference vector — and round 2 updates on the
    * docs w₁ still gets wrong). Plan: training round = one exploded
    * bucket aggregate (map-side combine, 1024 groups) + one ≤1024-row
    * driver collect (the parameter vector — bounded by the hash
    * range, never the corpus); scoring = a HOF fold against the
    * constant-folded weight-map literal, zero join, zero shuffle.
    * At 100 TB each round costs one corpus scan, and the model rides
    * in the closure exactly like a broadcast parameter server.
    *
    * Measured honestly: on THIS fixture the teacher (a balanced
    * median cut over a ~26-word synthetic vocabulary) is not
    * linearly separable in the hashed count space — batch updates
    * add whole misclassified classes at once, so the rounds
    * oscillate between majority predictions (2 through 12 rounds
    * and an averaged-weights variant all measured at ~50% train
    * accuracy offline). The certified claim is therefore the
    * distributed training MECHANICS — bit-exact integer rounds,
    * bounded parameter collects, scan-speed scoring — which is what
    * transfers when the real deployment brings a separable teacher
    * (FineWeb-Edu's LLM labels) and richer features; model quality
    * on the toy corpus is a fixture property, exactly like q218's
    * stand-in fixed weights. */
  def q238TrainedClassifier(s: SparkSession, dir: String): DataFrame = {
    val bigrams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws("_",
          element_at(col("toks"), i), element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    def bucket(f: Column): Column =
      pmod(conv(substring(md5(f), 1, 8), 16, 10).cast("bigint"), lit(1024L))
    // persisted for the TRAINING jobs only (released in finally):
    // exploding a freshly-computed md5-bucket array re-evaluates the
    // generator child on the interpreted HOF path per OUTPUT row
    // (measured 9.9 s vs 0.5 s over the materialized arrays at
    // sf0.1); the returned frame recomputes base lazily in one
    // scan-speed pass, so no cache outlives the call
    val base = documents(s, dir)
      .select(col("doc_id"), toks.as("toks"), col("text"))
      .select(col("doc_id"),
        transform(concat(col("toks"), bigrams), f => bucket(f)).as("bks"),
        when(round(TextAnalysis.qualityScore(col("text")) * 1000000)
          .cast("bigint") >= 640000, 1L).otherwise(-1L).as("y"))
      .persist()
    // One perceptron round: Σ y over misclassified docs' bucket
    // occurrences, collected as the ≤1024-entry parameter vector.
    def deltas(src: DataFrame): Map[Long, Long] =
      src.select(explode(col("bks")).as("b"), col("y"))
        .groupBy("b").agg(sum(col("y")).as("w"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // weights ride as ONE dense 1024-slot array literal indexed by
    // bucket — O(1) lookup per feature; a map literal here would
    // rebuild its 1024 entries on EVERY lambda evaluation (measured:
    // ~100x slower at sf0.1)
    def scoreCol(w: Map[Long, Long]): Column = {
      val dense = typedLit((0L until 1024L).map(w.getOrElse(_, 0L)))
      aggregate(col("bks"), lit(0L),
        (acc, b) => acc + element_at(dense, (b + 1).cast("int")))
    }
    try {
      val w1 = deltas(base) // round 1: w0 = 0 ⇒ every doc misclassified
      val s1 = base.withColumn("score1", scoreCol(w1))
      val d2 = deltas(s1.filter(col("y") * col("score1") <= 0))
      val w2 = (w1.keySet ++ d2.keySet).map(k =>
        k -> (w1.getOrElse(k, 0L) + d2.getOrElse(k, 0L))).toMap
      s1.withColumn("score2", scoreCol(w2))
        .select(col("doc_id"), col("y").as("label"),
          col("score1"), col("score2"),
          (col("score2") > 0).as("predicted"),
          ((col("score2") > 0) === (col("y") > 0)).as("correct"))
        .orderBy("doc_id")
    } finally base.unpersist(blocking = false)
  }

  /** q219 — per-source ADAPTIVE quality threshold (the FineWeb
    * discipline — Penedo et al. 2024 §3.3: filter cutoffs are set
    * from each source's own score distribution, never one global
    * constant, because a threshold tuned on web text guts a code or
    * academic source). Drop each source's worst ⌊n/10⌋ documents by
    * quality rank (doc_id tiebreak) — pure integer arithmetic, so a
    * 3-doc source keeps all 3 (⌊0.3⌋ = 0) instead of the
    * percent_rank formulation's degenerate singleton-drop, and both
    * engines agree without any floating-point compare.
    * Scale: one sort-shuffle keyed by source; with few giant sources
    * at 100 TB, swap the window for a two-phase exact-quantile cutoff
    * per source (q128's bounded-domain histogram kernel) broadcast
    * back onto the scan — same output, no giant sorted partition. */
  def q219AdaptiveThreshold(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("quality"), col("doc_id"))
    val wAll = Window.partitionBy("source")
    documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .withColumn("src_rank", row_number().over(w).cast("bigint"))
      .withColumn("n_src", count(lit(1)).over(wAll))
      .withColumn("kept", col("src_rank") > expr("n_src DIV 10"))
      .orderBy("source", "doc_id")
  }

  /** q221 — the corpus DATASHEET: the one-page statistics card a
    * dataset release ships (Gebru et al. 2021 "Datasheets for
    * Datasets"; every public pretraining corpus — C4, Pile, FineWeb —
    * publishes exactly this row set). All ratios ride on exact
    * integer aggregates (fixed-point quality micro-units, BIGINT
    * token counts) so distributed summation order cannot perturb a
    * single bit; the only double arithmetic is the final division of
    * two agreed integers. Scale: one map-side-combine aggregate over
    * the corpus scan plus the q209 gram semi-join — the datasheet of
    * a 100 TB corpus costs one pass. */
  def q221CorpusDatasheet(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("source"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("bigint").as("token_count"),
        round(TextAnalysis.qualityScore(col("text")) * 1000000).cast("bigint")
          .as("q_micro"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      sum("token_count").as("n_tokens"),
      count_distinct(col("source")).as("n_sources"),
      count_distinct(col("lang")).as("n_langs"),
      count_distinct(col("fp")).as("n_unique_fp"),
      sum("q_micro").as("q_micro_sum"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    val contam = q209Decontamination(s, dir)
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
    base.crossJoin(contam)
      .select(explode(array(
        struct(lit("contamination_rate").as("metric"),
          (col("n_contaminated").cast("double") / col("n_train").cast("double"))
            .as("value")),
        struct(lit("exact_dup_rate").as("metric"),
          ((col("n_docs") - col("n_unique_fp")).cast("double") /
            col("n_docs").cast("double")).as("value")),
        struct(lit("lang_en_share").as("metric"),
          (col("n_en").cast("double") / col("n_docs").cast("double"))
            .as("value")),
        struct(lit("mean_quality").as("metric"),
          ((col("q_micro_sum").cast("double") / col("n_docs").cast("double")) /
            lit(1000000.0)).as("value")),
        struct(lit("mean_tokens_per_doc").as("metric"),
          (col("n_tokens").cast("double") / col("n_docs").cast("double"))
            .as("value")),
        struct(lit("n_docs").as("metric"), col("n_docs").cast("double").as("value")),
        struct(lit("n_langs").as("metric"), col("n_langs").cast("double").as("value")),
        struct(lit("n_sources").as("metric"), col("n_sources").cast("double").as("value")),
        struct(lit("n_tokens").as("metric"), col("n_tokens").cast("double").as("value"))
      )).as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
      .orderBy("metric")
  }

  /** q224 — cross-source SYNDICATION audit: the same content
    * published under two or more sources (mirrors, scrapes,
    * syndicated feeds — the provenance problem C4/RefinedWeb-class
    * pipelines resolve BEFORE near-dup dedup, so one canonical
    * provenance survives). Content key = md5 of the sorted DISTINCT
    * vocabulary (order-invariant bag fingerprint), which catches
    * shuffled-template mirrors that the exact fingerprint (q45)
    * misses — on this fixture: 20 cross-source bag collisions, 0
    * exact ones. One scan + one bag-keyed aggregate; group width is
    * bounded by true copy counts, so the shuffle is skew-free at any
    * corpus size. */
  def q224Syndication(s: SparkSession, dir: String): DataFrame = {
    val bag = md5(array_join(array_sort(array_distinct(toks)), " "))
    documents(s, dir)
      .select(bag.as("bag"), col("source"), col("doc_id"))
      .groupBy("bag")
      .agg(count(lit(1)).as("n_copies"),
        count_distinct(col("source")).as("n_sources"),
        min("doc_id").as("canonical_doc_id"),
        array_join(array_sort(collect_set(col("source"))), ",").as("sources"))
      .filter(col("n_sources") >= 2)
      .orderBy("bag")
  }

  /** q212 — the filter DECISION REPORT a curation run ships with its
    * output (FineWeb/RedPajama discipline: never silently drop —
    * record which rule fired per document). Composes the q42 quality
    * score, the q208 repetition signals, a length floor, and a
    * target-language gate into one scan-speed projection; the
    * failed-rules column is a comma-joined fixed-order list (concat_ws
    * skips the NULLs of rules that pass), so downstream grouping by
    * rejection reason is a plain string groupBy. Zero shuffles. */
  /** The ONE rule kernel behind q212 and the streaming quality gate
    * (streaming.QualityGateStream): input needs (doc_id, lang, text);
    * output adds token_count, quality_score, top_word_frac,
    * dup_trigram_frac, failed_rules (fixed-order comma list; empty =
    * pass), kept. Pure stateless expressions — identical semantics in
    * a batch scan and a micro-batch, which is what the stream≡batch
    * parity spec pins. */
  private[graft] def withFilterRules(d: DataFrame): DataFrame = {
    val base = d.withColumn("toks", toks)
      .withColumn("quality_score", TextAnalysis.qualityScore(col("text")))
    val n = size(col("toks"))
    val topCnt = coalesce(
      array_max(transform(array_distinct(col("toks")),
        t => size(filter(col("toks"), x => x === t)))), lit(0))
    val trigrams = when(n >= 3,
      transform(sequence(lit(1), n - 2), i => concat_ws(" ",
        element_at(col("toks"), i), element_at(col("toks"), i + 1),
        element_at(col("toks"), i + 2))))
      .otherwise(array().cast("array<string>"))
    val withSig = base
      .withColumn("token_count", n)
      .withColumn("top_word_frac",
        topCnt.cast("double") / greatest(n, lit(1)).cast("double"))
      .withColumn("tg", trigrams)
      .withColumn("dup_trigram_frac",
        when(size(col("tg")) > 0,
          lit(1.0) - size(array_distinct(col("tg"))).cast("double") /
            size(col("tg")).cast("double"))
          .otherwise(lit(0.0)))
    val failed = concat_ws(",",
      when(col("quality_score") < 0.5, lit("low_quality")),
      when(col("lang") =!= "en", lit("non_english")),
      when(col("top_word_frac") > 0.2 || col("dup_trigram_frac") > 0.3,
        lit("repetitive")),
      when(col("token_count") < 5, lit("too_short")))
    withSig
      .withColumn("failed_rules", failed)
      .withColumn("kept", col("failed_rules") === "")
      .drop("toks", "tg")
  }

  def q212FilterReport(s: SparkSession, dir: String): DataFrame =
    withFilterRules(documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text")))
      .select("doc_id", "lang", "token_count", "quality_score",
        "top_word_frac", "dup_trigram_frac", "failed_rules", "kept")
      .orderBy("doc_id")

  /** q214 — curation pipeline v2: the round-6 operators composed end
    * to end the way a pretraining-data run chains them, complementing
    * q105's dedup-centric chain with the decision-layer stages:
    * rule gate (q212 semantics) → eval-set decontamination (q209,
    * holdout grams from the FULL corpus — the eval set exists before
    * any filtering) → exact dedup (fingerprint min-id) → temperature
    * sampling to a half-corpus token budget (q211 weights turned into
    * per-source keep rates, clamped at 1, decided by an independent
    * salted md5 coin) → 2000-token shard packing (distributed prefix
    * sum). Stages 1-4 are one lazy Catalyst plan; the prefix sum runs
    * its eager subtotal pass at build time (q105's documented shape).
    * Every stage is individually oracle-proven (q212/q209/q45/q211/
    * q200); this certifies the COMPOSITION hash-exactly. */
  def q214CurationV2(s: SparkSession, dir: String): DataFrame = {
    val (d, clean) = curationCleanStage(s, dir)
    // stage 3: exact dedup among survivors (min-id canonical — the
    // contrast baseline; q225 swaps in the q220 quality-argmax)
    val keep = clean
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")
    val d3 = clean.join(keep, "doc_id")
      .select("doc_id", "source", "lang", "quality", "token_count")
    samplePack(d3, Seq(d, clean))
  }

  /** q225 — curation pipeline v3: q214's composition with stage 3
    * upgraded from exact-dup min-id survivors to NEAR-dup connected
    * components with the q220 quality-argmax survivor policy — the
    * SlimPajama/FineWeb "keep the best document of each duplicate
    * cluster" rule running INSIDE the composed pipeline rather than
    * as a standalone report. Stage 3 clusters the post-gate post-
    * decontamination survivors (dedup-after-filtering, the order
    * production pipelines use): MinHash(16) → 4x4 banded LSH →
    * Jaccard ≥ 0.2 verify → connected components (all q77's exact
    * kernels), then one window keyed by cluster_id keeps
    * argmax(quality, doc_id-tiebreak) per cluster — near-dup cluster
    * sizes are small by construction at any corpus scale, so the
    * per-key sort is bounded and skew-free. Singletons survive as
    * their own cluster. Stages 1-2 and 4-5 are byte-identical to
    * q214 (shared code), so the two pipelines' outputs diff exactly
    * the survivor policy. */
  def q225CurationV3(s: SparkSession, dir: String): DataFrame = {
    val (d, clean) = curationCleanStage(s, dir)
    val d3 = qualityArgmaxSurvivors(clean)
      .select("doc_id", "source", "lang", "quality", "token_count")
    samplePack(d3, Seq(d, clean))
  }

  /** q225's stage 3, exposed for the policy-parity spec: near-dup
    * clustering (MinHash(16) → 4x4 banded LSH → Jaccard ≥ 0.2 verify
    * → connected components, q77's exact kernels) over `docs`, then
    * keep only each cluster's argmax(quality, doc_id-tiebreak) —
    * byte-identical policy to q220, applied as a FILTER (singletons
    * self-cluster and always survive). `docs` must carry doc_id,
    * text, quality; all input columns pass through. */
  private[queries] def qualityArgmaxSurvivors(docs: DataFrame): DataFrame = {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
      k = 16, shingleN = 3)
    val cand = Dedup.lshCandidatePairs(sigs, "doc_id",
      bands = 4, rowsPerBand = 4)
    val pairs = Dedup.verifyJaccard(cand, docs, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.2)
      .select("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    val wBest = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    docs
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("_best", row_number().over(wBest))
      .filter(col("_best") === 1)
      .drop("cluster_id", "_best")
  }

  /** Stages 1-2 shared by the composed curation pipelines (q214/
    * q225): enriched scan → rule gate (q212 semantics) → eval-set
    * decontamination (q209 semantics, holdout grams from the FULL
    * corpus). Returns (enriched, clean), BOTH persisted — the
    * enriched scan (tokenize + 3 quality regexes + md5 coin) is
    * consumed by three subtrees (rule gate, eval-gram build, train-
    * gram probe) and `clean` by the dedup stage twice; callers hand
    * both to [[samplePack]], which releases them once its eager
    * prefix-sum pass has materialized everything downstream.
    * Measured at sf0.1/local[32]: 26.0 s -> 3.0 s with the persists
    * (PLANS.md round-6). On a cluster the same persists hold: each
    * is O(corpus) columnar cache with the text-heavy columns dropped
    * as early as possible. */
  private def curationCleanStage(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        toks.as("toks"), docFrac.as("frac"))
      .persist()
    val n = size(col("toks"))
    val topCnt = coalesce(
      array_max(transform(array_distinct(col("toks")),
        t => size(filter(col("toks"), x => x === t)))), lit(0))
    val trigrams = when(n >= 3,
      transform(sequence(lit(1), n - 2), i => concat_ws(" ",
        element_at(col("toks"), i), element_at(col("toks"), i + 1),
        element_at(col("toks"), i + 2))))
      .otherwise(array().cast("array<string>"))
    // stage 1: rule gate (pass = q212's failed_rules empty, en only)
    val gated = d
      .withColumn("token_count", n.cast("bigint"))
      .withColumn("top_word_frac",
        topCnt.cast("double") / greatest(n, lit(1)).cast("double"))
      .withColumn("tg", trigrams)
      .withColumn("dup_trigram_frac",
        when(size(col("tg")) > 0,
          lit(1.0) - size(array_distinct(col("tg"))).cast("double") /
            size(col("tg")).cast("double"))
          .otherwise(lit(0.0)))
      .filter(col("quality") >= 0.5 && col("lang") === "en" &&
        col("token_count") >= 5 &&
        col("top_word_frac") <= 0.2 && col("dup_trigram_frac") <= 0.3)
      .select("doc_id", "source", "lang", "text", "quality",
        "token_count", "frac")
    // stage 2: decontamination — holdout grams from the full corpus
    val fiveGrams = when(size(col("toks")) >= 5,
      array_distinct(transform(sequence(lit(1), size(col("toks")) - 4),
        i => concat_ws(" ",
          element_at(col("toks"), i), element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2), element_at(col("toks"), i + 3),
          element_at(col("toks"), i + 4)))))
      .otherwise(array().cast("array<string>"))
    val gAll = d.select(col("doc_id"), col("frac"),
      explode(fiveGrams).as("gram"))
    // Gram-join exchange sized from the corpus, not the session
    // default — the r8 partition-sizing hazard class (frames whose
    // row count is DECOUPLED from the input tables), found again by
    // the round-9 sf100 sweep: the exploded gram frame is ~46
    // grams/doc (~230M rows at sf100), and the join's SMJ sort at 8
    // session partitions spilled 2.4 GB. Gating, the two-sided
    // requirement, and the ×64 overbound are the ExplodedJoin
    // scaladoc's contract (this finding, generalized to the whole
    // gram-join family in the round-10 sweep).
    val sized = ExplodedJoin.sizer(s,
      Tables.documentCount(s, dir) * 64L, col("gram"))
    val trainGrams = sized(gAll.filter(col("frac") >= TestFrac))
    val testGrams = sized(gAll.filter(col("frac") < TestFrac))
      .select("gram").distinct()
    val contaminated = trainGrams
      .join(testGrams, "gram").select("doc_id").distinct()
    val clean = gated.filter(col("frac") >= TestFrac)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .persist()
    (d, clean)
  }

  /** Stages 4-5 shared by q214/q225: temperature sampling to a
    * half-corpus token budget (q211 weights as per-source keep rates,
    * clamped at 1, independent salted md5 coin) + 2000-token shard
    * packing (distributed prefix sum). `d3` is the survivor set
    * (doc_id, source, lang, quality, token_count); `release` are the
    * upstream persists, dropped — together with this stage's own —
    * once the prefix sum's eager subtotal pass has materialized
    * PrefixSum's internal range-partitioned cache, the only frame
    * the returned plan still reads (the q210 pattern; library use
    * no longer needs a cache sweep). */
  private def samplePack(d3raw: DataFrame, release: Seq[DataFrame]): DataFrame = {
    val d3 = d3raw.persist()
    val bySrc = d3.groupBy("source").agg(sum("token_count").as("n_tokens"))
    val tot = bySrc.agg(sum("n_tokens").as("total_tokens"))
    val wq = bySrc.crossJoin(tot)
      .withColumn("wq",
        round(sqrt((col("n_tokens").cast("double") /
          col("total_tokens").cast("double")).cast("double")) *
          lit(1000000000.0)).cast("bigint"))
    val wtot = wq.agg(sum("wq").as("wq_total"))
    val rates = wq.crossJoin(wtot)
      .select(col("source"),
        least(
          (col("wq").cast("double") / col("wq_total").cast("double"))
            .cast("double") *
            (lit(0.5) * col("total_tokens").cast("double")) /
            col("n_tokens").cast("double"),
          lit(1.0)).cast("double").as("rate"))
    val coin = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("-mix"))), 1, 12), 16, 10)
      .cast("double") / lit(281474976710656.0)
    val sampled = d3.join(rates, "source").filter(coin < col("rate"))
    // stage 5: shard packing (text-free before the prefix sum)
    val packed = graft.operators.PrefixSum
      .withRunningSum(
        sampled.select(col("doc_id"), col("source"), col("lang"),
          col("quality"), col("token_count"), col("rate")),
        "doc_id", "token_count", "cum_tokens")
    (release :+ d3).foreach(_.unpersist(blocking = false))
    packed
      .withColumn("shard_id",
        floor((col("cum_tokens") - col("token_count")) / 2000L)
          .cast("bigint"))
      .select("doc_id", "source", "lang", "quality", "token_count",
        "rate", "shard_id")
      .orderBy("doc_id")
  }

  /** q262 — URL PROVENANCE panel: host extraction, www-stripped
    * registered host, TLD, scheme split, per-host doc/lang rollup —
    * the parse step behind every web-corpus provenance discipline
    * (RefinedWeb §3.1 URL filtering, FineWeb's per-domain accounting,
    * Dolma's URL dedup all start from exactly this normalization).
    * The fixture has no organic URLs, so each doc's URL is derived
    * deterministically from (source, doc_id) INLINE — both engines
    * build the identical string, then both parse it back with the
    * same regexes (the q236 PII-lacing pattern: the certified object
    * is the parsing kernel, not the synthesis). The www-merge is
    * provably exercised: doc_id%3 adds a www. prefix, so every base
    * host appears in both spellings and the rollup must merge them.
    * Scan-speed projections + one host-keyed aggregate. */
  def q262UrlPanel(s: SparkSession, dir: String): DataFrame = {
    val tld = array(lit("com"), lit("org"), lit("net"), lit("io"))
    val url = concat(
      when(pmod(col("doc_id"), lit(7)) === 0, lit("http://")).otherwise(lit("https://")),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("www.")).otherwise(lit("")),
      col("source"), lit("-"), pmod(col("doc_id"), lit(97)).cast("string"),
      lit("."), element_at(tld, pmod(col("doc_id"), lit(4)).cast("int") + 1),
      lit("/"), col("lang"), lit("/page-"), col("doc_id").cast("string"))
    documents(s, dir)
      .select(col("doc_id"), col("lang"), url.as("url"))
      .withColumn("host", regexp_extract(col("url"), "^https?://([^/]+)", 1))
      .withColumn("reg_host", regexp_replace(col("host"), "^www\\.", ""))
      .groupBy("reg_host")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("url").startsWith("https://"), 1L).otherwise(0L))
          .as("https_docs"),
        sum(when(col("host").startsWith("www."), 1L).otherwise(0L))
          .as("www_docs"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("min_doc_id"))
      .select(col("reg_host"),
        regexp_extract(col("reg_host"), "\\.([a-z]+)$", 1).as("tld"),
        col("n_docs"), col("https_docs"), col("www_docs"),
        col("n_langs"), col("min_doc_id"))
      .orderBy("reg_host")
  }

  /** q267 — NESTED SCALING-LAW subsets: the 1/16 ⊂ 1/8 ⊂ 1/4 ⊂ 1/2 ⊂
    * 1 data ladder a Chinchilla-style scaling experiment trains on
    * (Hoffmann et al. 2022 vary data at fixed recipe; Kaplan et al.
    * 2020 §3 subsample the same corpus). Nesting is BY CONSTRUCTION —
    * one md5-derived draw per doc, rung k keeps draws below a halving
    * threshold, so every smaller rung is a subset of every larger one
    * and per-rung metrics are comparable (independent per-rung
    * samples would confound the ladder with sampling noise). The
    * violations column is the certificate: docs in rung k missing
    * from rung k+1 — structurally zero, and a broken sampler (fresh
    * coin per rung) lights it up. One scan; the rung explode is ≤5
    * rows per doc. */
  def q267ScalingLadder(s: SparkSession, dir: String): DataFrame = {
    val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long")
    val full = 16777216L // 16^6
    val d = documents(s, dir).select(
      col("doc_id"),
      graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("tc"),
      draw.as("h"))
    // halving thresholds full>>4 .. full>>0, indexed by rung (a
    // literal array — shiftright takes only literal shift amounts)
    val thrL = array((4 to 0 by -1).map(m => lit(full >> m)): _*)
    val rungs = d.select(col("doc_id"), col("tc"), col("h"),
        explode(filter(sequence(lit(0), lit(4)),
          k => col("h") < get(thrL, k)))
          .as("rung"))
    // violations re-evaluates the NEXT rung's membership predicate
    // (thr(k+1) = 2·thr(k)) instead of assuming nesting — a sampler
    // rewritten to draw a fresh coin per rung lights this up
    rungs.groupBy("rung")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tc")).as("n_tokens"),
        sum(when(col("rung") < 4 &&
            col("h") >= get(thrL, col("rung")) * 2,
          1L).otherwise(0L)).as("violations"))
      .withColumn("threshold", get(thrL, col("rung")))
      .select("rung", "threshold", "n_docs", "n_tokens", "violations")
      .orderBy("rung")
  }

  val queries: Map[String, Q] = Map(
    "q262_url_panel" -> q262UrlPanel _,
    "q267_scaling_ladder" -> q267ScalingLadder _,
    "q208_repetition_signals" -> q208RepetitionSignals _,
    "q212_filter_report" -> q212FilterReport _,
    "q214_curation_v2" -> q214CurationV2 _,
    "q225_curation_v3" -> q225CurationV3 _,
    "q209_decontamination" -> q209Decontamination _,
    "q239_bloom_decontam" -> q239BloomDecontam _,
    "q241_contamination_pairs" -> q241ContaminationPairs _,
    "q210_mmr_select" -> q210MmrSelect _,
    "q211_mixture_weights" -> q211MixtureWeights _,
    "q252_unimax_alloc" -> q252UnimaxAlloc _,
    "q218_hash_classifier" -> q218HashClassifier _,
    "q238_trained_classifier" -> q238TrainedClassifier _,
    "q219_adaptive_threshold" -> q219AdaptiveThreshold _,
    "q221_corpus_datasheet" -> q221CorpusDatasheet _,
    "q224_syndication" -> q224Syndication _,
  )

  private val toksSql = "list_filter(regexp_split_to_array(lower(trim(text)), ' +'), t -> t <> '')"
  private val qvSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS DOUBLE))"

  /** DuckDB greedy-MMR level r: score candidates against sel{r-1},
    * pick the (score desc, vec_id) top-1, append to the selection. */
  private def mmrLevel(r: Int): String = {
    val prev = s"sel${r - 1}"
    s"""scored$r AS (
       |  SELECT c.vec_id, c.v, c.rel,
       |    CAST(COALESCE((SELECT MAX(CAST(list_dot_product(c.v, s.v) /
       |        sqrt(list_dot_product(c.v, c.v) * list_dot_product(s.v, s.v))
       |        AS DOUBLE)) FROM $prev s), 0.0) AS DOUBLE) AS max_sim_selected
       |  FROM cands c WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)),
       |pick$r AS (
       |  SELECT $r AS rank, vec_id, v, rel, max_sim_selected,
       |    CAST(CAST(0.7 AS DOUBLE) * rel
       |      - CAST(0.3 AS DOUBLE) * max_sim_selected AS DOUBLE) AS score
       |  FROM scored$r
       |  ORDER BY score DESC, vec_id LIMIT 1),
       |sel$r AS (SELECT rank, vec_id, v, rel, max_sim_selected, score FROM $prev
       |  UNION ALL SELECT rank, vec_id, v, rel, max_sim_selected, score FROM pick$r)""".stripMargin
  }

  private def reCount(expr: String, re: String) =
    s"len(regexp_extract_all($expr, '$re'))"

  /** Exact 5-gram decontamination check — the oracle for BOTH q209
    * (exact plan) and q239 (bloom-prefiltered plan): the bloom layer
    * must be result-invisible. */
  private val decontamOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS toks,
       |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
       |      AS BIGINT) AS DOUBLE) / 281474976710656.0 AS frac
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, frac, unnest(list_distinct(
       |    CASE WHEN len(toks) >= 5 THEN
       |      list_transform(range(1, len(toks) - 3),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |          || ' ' || toks[i+3] || ' ' || toks[i+4])
       |    ELSE [] END)) AS gram
       |  FROM t),
       |test_grams AS (SELECT DISTINCT gram FROM g WHERE frac < $TestFrac),
       |shared AS (
       |  SELECT g.doc_id, COUNT(DISTINCT g.gram) AS shared_ngrams
       |  FROM g JOIN test_grams tg ON g.gram = tg.gram
       |  WHERE g.frac >= $TestFrac GROUP BY 1)
       |SELECT t.doc_id,
       |  COALESCE(sh.shared_ngrams, 0) AS shared_ngrams,
       |  COALESCE(sh.shared_ngrams, 0) > 0 AS contaminated
       |FROM t LEFT JOIN shared sh ON sh.doc_id = t.doc_id
       |WHERE t.frac >= $TestFrac ORDER BY t.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q267_scaling_ladder" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(trim(text)), ' +')) AS BIGINT) AS tc,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) AS h
        |  FROM documents),
        |r AS (
        |  SELECT d.doc_id, d.tc, d.h, k.rung
        |  FROM d, (SELECT unnest(range(0, 5)) AS rung) k
        |  WHERE d.h < (16777216 >> (4 - k.rung)))
        |SELECT CAST(rung AS INTEGER) AS rung,
        |  CAST(16777216 >> (4 - rung) AS BIGINT) AS threshold,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(tc) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN rung < 4
        |    AND h >= (16777216 >> (4 - rung)) * 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS violations
        |FROM r GROUP BY rung ORDER BY rung""".stripMargin,
    "q262_url_panel" ->
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    (CASE WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END ||
        |     CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
        |     source || '-' || CAST(doc_id % 97 AS VARCHAR) || '.' ||
        |     (['com','org','net','io'])[CAST(doc_id % 4 AS INTEGER) + 1] ||
        |     '/' || lang || '/page-' || CAST(doc_id AS VARCHAR)) AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang, url,
        |    regexp_extract(url, '^https?://([^/]+)', 1) AS host
        |  FROM u),
        |r AS (
        |  SELECT doc_id, lang, url, host,
        |    regexp_replace(host, '^www\.', '') AS reg_host
        |  FROM p)
        |SELECT reg_host,
        |  regexp_extract(reg_host, '\.([a-z]+)$', 1) AS tld,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN starts_with(url, 'https://') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS https_docs,
        |  CAST(SUM(CASE WHEN starts_with(host, 'www.') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS www_docs,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  MIN(doc_id) AS min_doc_id
        |FROM r GROUP BY reg_host
        |ORDER BY reg_host""".stripMargin,
    "q214_curation_v2" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, lang, text, $toksSql AS toks,
         |    ${Extended.qualitySql} AS quality,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) AS DOUBLE) / 281474976710656.0 AS frac
         |  FROM documents),
         |sig AS (
         |  SELECT *, CAST(len(toks) AS BIGINT) AS token_count,
         |    CAST(COALESCE(list_max(list_transform(list_distinct(toks),
         |        tk -> len(list_filter(toks, x -> x = tk)))), 0) AS DOUBLE) /
         |      CAST(greatest(len(toks), 1) AS DOUBLE) AS top_word_frac,
         |    CASE WHEN len(toks) >= 3 THEN
         |      list_transform(range(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |    ELSE [] END AS tg
         |  FROM t),
         |gated AS (
         |  SELECT doc_id, source, lang, text, quality, token_count, frac
         |  FROM (SELECT *,
         |      CASE WHEN len(tg) > 0 THEN
         |        CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(tg)) AS DOUBLE) /
         |          CAST(len(tg) AS DOUBLE)
         |      ELSE CAST(0.0 AS DOUBLE) END AS dup_trigram_frac
         |    FROM sig)
         |  WHERE quality >= 0.5 AND lang = 'en' AND token_count >= 5
         |    AND top_word_frac <= 0.2 AND dup_trigram_frac <= 0.3),
         |g_all AS (
         |  SELECT doc_id, frac, unnest(list_distinct(
         |    CASE WHEN len(toks) >= 5 THEN
         |      list_transform(range(1, len(toks) - 3),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |          || ' ' || toks[i+3] || ' ' || toks[i+4])
         |    ELSE [] END)) AS gram
         |  FROM t),
         |test_grams AS (SELECT DISTINCT gram FROM g_all WHERE frac < $TestFrac),
         |contaminated AS (
         |  SELECT DISTINCT g.doc_id FROM g_all g
         |  JOIN test_grams USING (gram) WHERE g.frac >= $TestFrac),
         |clean AS (
         |  SELECT * FROM gated
         |  WHERE frac >= $TestFrac
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM (
         |    SELECT doc_id, ${DedupOps.fingerprintSql} AS fp FROM clean)
         |  GROUP BY fp),
         |d3 AS (
         |  SELECT doc_id, source, lang, quality, token_count FROM clean
         |  WHERE doc_id IN (SELECT doc_id FROM keep)),
         |by_src AS (
         |  SELECT source, CAST(SUM(token_count) AS BIGINT) AS n_tokens
         |  FROM d3 GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM by_src),
         |wq AS (
         |  SELECT source, n_tokens,
         |    CAST(round(sqrt(CAST(CAST(n_tokens AS DOUBLE) /
         |      CAST(total_tokens AS DOUBLE) AS DOUBLE)) * 1000000000.0)
         |      AS BIGINT) AS wq
         |  FROM by_src, tot),
         |wtot AS (SELECT SUM(wq) AS wq_total FROM wq),
         |rates AS (
         |  SELECT source,
         |    CAST(least(
         |      CAST(CAST(wq.wq AS DOUBLE) / CAST(wq_total AS DOUBLE) AS DOUBLE)
         |        * (CAST(0.5 AS DOUBLE) * CAST(total_tokens AS DOUBLE))
         |        / CAST(n_tokens AS DOUBLE),
         |      CAST(1.0 AS DOUBLE)) AS DOUBLE) AS rate
         |  FROM wq, wtot, tot),
         |sampled AS (
         |  SELECT d3.doc_id, d3.source, d3.lang, d3.quality, d3.token_count,
         |    r.rate
         |  FROM d3 JOIN rates r USING (source)
         |  WHERE CAST(CAST('0x' || substr(md5(CAST(d3.doc_id AS VARCHAR)
         |      || '-mix'), 1, 12) AS BIGINT) AS DOUBLE)
         |    / 281474976710656.0 < r.rate)
         |SELECT doc_id, source, lang, quality, token_count, rate,
         |  CAST(floor((SUM(token_count) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - token_count)
         |    / 2000) AS BIGINT) AS shard_id
         |FROM sampled ORDER BY doc_id""".stripMargin,
    // q214's chain with stage 3 swapped: near-dup CC (the q77 exact
    // kernels, pairs restricted to `clean` — banding is pairwise, so
    // filtering pairs == banding the subset) + q220's quality-argmax
    // survivor per cluster. q214's per-doc feature CTE is renamed
    // `feat` (the shared MinHash CTEs own the name `sig`).
    "q225_curation_v3" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, source, lang, text, $toksSql AS toks,
         |    ${Extended.qualitySql} AS quality,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) AS DOUBLE) / 281474976710656.0 AS frac
         |  FROM documents),
         |feat AS (
         |  SELECT *, CAST(len(toks) AS BIGINT) AS token_count,
         |    CAST(COALESCE(list_max(list_transform(list_distinct(toks),
         |        tk -> len(list_filter(toks, x -> x = tk)))), 0) AS DOUBLE) /
         |      CAST(greatest(len(toks), 1) AS DOUBLE) AS top_word_frac,
         |    CASE WHEN len(toks) >= 3 THEN
         |      list_transform(range(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |    ELSE [] END AS tg
         |  FROM t),
         |gated AS (
         |  SELECT doc_id, source, lang, text, quality, token_count, frac
         |  FROM (SELECT *,
         |      CASE WHEN len(tg) > 0 THEN
         |        CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(tg)) AS DOUBLE) /
         |          CAST(len(tg) AS DOUBLE)
         |      ELSE CAST(0.0 AS DOUBLE) END AS dup_trigram_frac
         |    FROM feat)
         |  WHERE quality >= 0.5 AND lang = 'en' AND token_count >= 5
         |    AND top_word_frac <= 0.2 AND dup_trigram_frac <= 0.3),
         |g_all AS (
         |  SELECT doc_id, frac, unnest(list_distinct(
         |    CASE WHEN len(toks) >= 5 THEN
         |      list_transform(range(1, len(toks) - 3),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |          || ' ' || toks[i+3] || ' ' || toks[i+4])
         |    ELSE [] END)) AS gram
         |  FROM t),
         |test_grams AS (SELECT DISTINCT gram FROM g_all WHERE frac < $TestFrac),
         |contaminated AS (
         |  SELECT DISTINCT g.doc_id FROM g_all g
         |  JOIN test_grams USING (gram) WHERE g.frac >= $TestFrac),
         |clean AS (
         |  SELECT * FROM gated
         |  WHERE frac >= $TestFrac
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |${DedupOps.tokHashCte},
         |${DedupOps.shinglesCte},
         |${DedupOps.sigBandedCtes},
         |cpairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band = b.band
         |    AND a.doc_id < b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM clean)
         |    AND b.doc_id IN (SELECT doc_id FROM clean)),
         |${DedupOps.ccReachCtes},
         |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |d3 AS (
         |  SELECT doc_id, source, lang, quality, token_count FROM (
         |    SELECT c.doc_id, c.source, c.lang, c.quality, c.token_count,
         |      row_number() OVER (
         |        PARTITION BY COALESCE(l.cluster_id, c.doc_id)
         |        ORDER BY c.quality DESC, c.doc_id) AS rn
         |    FROM clean c LEFT JOIN lab l ON l.id = c.doc_id)
         |  WHERE rn = 1),
         |by_src AS (
         |  SELECT source, CAST(SUM(token_count) AS BIGINT) AS n_tokens
         |  FROM d3 GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM by_src),
         |wq AS (
         |  SELECT source, n_tokens,
         |    CAST(round(sqrt(CAST(CAST(n_tokens AS DOUBLE) /
         |      CAST(total_tokens AS DOUBLE) AS DOUBLE)) * 1000000000.0)
         |      AS BIGINT) AS wq
         |  FROM by_src, tot),
         |wtot AS (SELECT SUM(wq) AS wq_total FROM wq),
         |rates AS (
         |  SELECT source,
         |    CAST(least(
         |      CAST(CAST(wq.wq AS DOUBLE) / CAST(wq_total AS DOUBLE) AS DOUBLE)
         |        * (CAST(0.5 AS DOUBLE) * CAST(total_tokens AS DOUBLE))
         |        / CAST(n_tokens AS DOUBLE),
         |      CAST(1.0 AS DOUBLE)) AS DOUBLE) AS rate
         |  FROM wq, wtot, tot),
         |sampled AS (
         |  SELECT d3.doc_id, d3.source, d3.lang, d3.quality, d3.token_count,
         |    r.rate
         |  FROM d3 JOIN rates r USING (source)
         |  WHERE CAST(CAST('0x' || substr(md5(CAST(d3.doc_id AS VARCHAR)
         |      || '-mix'), 1, 12) AS BIGINT) AS DOUBLE)
         |    / 281474976710656.0 < r.rate)
         |SELECT doc_id, source, lang, quality, token_count, rate,
         |  CAST(floor((SUM(token_count) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - token_count)
         |    / 2000) AS BIGINT) AS shard_id
         |FROM sampled ORDER BY doc_id""".stripMargin,
    "q212_filter_report" ->
      s"""WITH feat AS (
         |  SELECT doc_id, lang, $toksSql AS toks,
         |    CAST(length(text) AS DOUBLE) AS len_d,
         |    CAST(len(regexp_split_to_array(lower(trim(text)), ' +'))
         |      AS DOUBLE) AS toks_d,
         |    CAST(${reCount("text", "[^A-Za-z0-9\\s]")} AS DOUBLE) AS punct_d,
         |    CAST(${reCount("lower(text)", "\\b(the|and|is|of|to|a|in|it)\\b")} AS DOUBLE) AS stop_d
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id, lang,
         |    CAST((least(len_d / 500.0, 1.0) * 0.4)
         |      + ((1.0 - least(punct_d / greatest(len_d, 1.0) * 10.0, 1.0)) * 0.3)
         |      + (least(stop_d / greatest(toks_d, 1.0) * 5.0, 1.0) * 0.3)
         |      AS DOUBLE) AS quality_score,
         |    CAST(len(toks) AS INTEGER) AS token_count,
         |    CAST(COALESCE(list_max(list_transform(list_distinct(toks),
         |        t -> len(list_filter(toks, x -> x = t)))), 0) AS DOUBLE) /
         |      CAST(greatest(len(toks), 1) AS DOUBLE) AS top_word_frac,
         |    CASE WHEN len(toks) >= 3 THEN
         |      list_transform(range(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |    ELSE [] END AS tg
         |  FROM feat),
         |st AS (
         |  SELECT doc_id, lang, token_count, quality_score, top_word_frac,
         |    CASE WHEN len(tg) > 0 THEN
         |      CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(tg)) AS DOUBLE) /
         |        CAST(len(tg) AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END AS dup_trigram_frac
         |  FROM sig)
         |SELECT doc_id, lang, token_count, quality_score, top_word_frac,
         |  dup_trigram_frac,
         |  concat_ws(',',
         |    CASE WHEN quality_score < 0.5 THEN 'low_quality' END,
         |    CASE WHEN lang != 'en' THEN 'non_english' END,
         |    CASE WHEN top_word_frac > 0.2 OR dup_trigram_frac > 0.3
         |      THEN 'repetitive' END,
         |    CASE WHEN token_count < 5 THEN 'too_short' END) AS failed_rules,
         |  concat_ws(',',
         |    CASE WHEN quality_score < 0.5 THEN 'low_quality' END,
         |    CASE WHEN lang != 'en' THEN 'non_english' END,
         |    CASE WHEN top_word_frac > 0.2 OR dup_trigram_frac > 0.3
         |      THEN 'repetitive' END,
         |    CASE WHEN token_count < 5 THEN 'too_short' END) = '' AS kept
         |FROM st ORDER BY doc_id""".stripMargin,
    "q208_repetition_signals" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |base AS (
         |  SELECT doc_id, toks, len(toks) AS token_count,
         |    len(list_distinct(toks)) AS distinct_tokens,
         |    COALESCE(list_max(list_transform(list_distinct(toks),
         |      t -> len(list_filter(toks, x -> x = t)))), 0) AS top_word_count,
         |    CASE WHEN len(toks) >= 3 THEN
         |      list_transform(range(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |    ELSE [] END AS tg
         |  FROM t),
         |st AS (
         |  SELECT doc_id,
         |    CAST(token_count AS INTEGER) AS token_count,
         |    CAST(distinct_tokens AS INTEGER) AS distinct_tokens,
         |    CAST(distinct_tokens AS DOUBLE) /
         |      CAST(greatest(token_count, 1) AS DOUBLE) AS type_token_ratio,
         |    CAST(top_word_count AS DOUBLE) /
         |      CAST(greatest(token_count, 1) AS DOUBLE) AS top_word_frac,
         |    CAST(len(tg) AS INTEGER) AS trigram_count,
         |    CASE WHEN len(tg) > 0 THEN
         |      CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(tg)) AS DOUBLE) /
         |        CAST(len(tg) AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END AS dup_trigram_frac
         |  FROM base)
         |SELECT *, (top_word_frac > 0.2 OR dup_trigram_frac > 0.3)
         |  AS flagged_repetitive
         |FROM st ORDER BY doc_id""".stripMargin,
    "q209_decontamination" -> decontamOracleSql,
    // q239 is PLAN-level different (bloom prefilter before the exact
    // semi-join) but result-identical by construction — certifying it
    // against the exact-check oracle IS the losslessness claim.
    "q239_bloom_decontam" -> decontamOracleSql,
    "q241_contamination_pairs" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) AS DOUBLE) / 281474976710656.0 AS frac
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, frac, unnest(list_distinct(
         |    CASE WHEN len(toks) >= 5 THEN
         |      list_transform(range(1, len(toks) - 3),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |          || ' ' || toks[i+3] || ' ' || toks[i+4])
         |    ELSE [] END)) AS gram
         |  FROM t)
         |SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
         |  CAST(COUNT(*) AS BIGINT) AS shared_ngrams
         |FROM g tr JOIN g ev ON tr.gram = ev.gram
         |WHERE tr.frac >= $TestFrac AND ev.frac < $TestFrac
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q210_mmr_select" ->
      s"""WITH e AS (SELECT vec_id, $qvSql AS v FROM embeddings),
         |q AS (SELECT v FROM e WHERE vec_id = 0),
         |cands AS (
         |  SELECT e.vec_id, e.v,
         |    CAST(list_dot_product(e.v, q.v) /
         |      sqrt(list_dot_product(e.v, e.v) * list_dot_product(q.v, q.v))
         |      AS DOUBLE) AS rel
         |  FROM e, q WHERE e.vec_id != 0),
         |sel0 AS (SELECT 0 AS rank, CAST(NULL AS BIGINT) AS vec_id,
         |  CAST(NULL AS DOUBLE[]) AS v, CAST(NULL AS DOUBLE) AS rel,
         |  CAST(NULL AS DOUBLE) AS max_sim_selected,
         |  CAST(NULL AS DOUBLE) AS score WHERE 1 = 0),
         |${(1 to 5).map(mmrLevel).mkString(",\n")}
         |SELECT CAST(rank AS INTEGER) AS rank, vec_id,
         |  rel AS relevance, max_sim_selected, score
         |FROM sel5 ORDER BY rank""".stripMargin,
    "q224_syndication" ->
      s"""WITH k AS (
         |  SELECT source, doc_id,
         |    md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
         |      AS bag
         |  FROM documents)
         |SELECT bag, CAST(COUNT(*) AS BIGINT) AS n_copies,
         |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |  MIN(doc_id) AS canonical_doc_id,
         |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
         |FROM k GROUP BY bag HAVING COUNT(DISTINCT source) >= 2
         |ORDER BY bag""".stripMargin,
    "q221_corpus_datasheet" ->
      s"""WITH d AS (
         |  SELECT source, lang,
         |    CAST(len(regexp_split_to_array(lower(trim(text)), ' +'))
         |      AS BIGINT) AS token_count,
         |    CAST(round(${Extended.qualitySql} * 1000000) AS BIGINT) AS q_micro,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |base AS (
         |  SELECT COUNT(*) AS n_docs, SUM(token_count) AS n_tokens,
         |    COUNT(DISTINCT source) AS n_sources,
         |    COUNT(DISTINCT lang) AS n_langs,
         |    COUNT(DISTINCT fp) AS n_unique_fp,
         |    SUM(q_micro) AS q_micro_sum,
         |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
         |  FROM d),
         |tf AS (
         |  SELECT doc_id, $toksSql AS toks,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) AS DOUBLE) / 281474976710656.0 AS frac
         |  FROM documents),
         |g_all AS (
         |  SELECT doc_id, frac, unnest(list_distinct(
         |    CASE WHEN len(toks) >= 5 THEN
         |      list_transform(range(1, len(toks) - 3),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |          || ' ' || toks[i+3] || ' ' || toks[i+4])
         |    ELSE [] END)) AS gram
         |  FROM tf),
         |test_grams AS (SELECT DISTINCT gram FROM g_all WHERE frac < $TestFrac),
         |contaminated AS (
         |  SELECT DISTINCT g.doc_id FROM g_all g
         |  JOIN test_grams USING (gram) WHERE g.frac >= $TestFrac),
         |contam AS (
         |  SELECT (SELECT COUNT(*) FROM tf WHERE frac >= $TestFrac) AS n_train,
         |    (SELECT COUNT(*) FROM contaminated) AS n_contaminated)
         |SELECT metric, value FROM (
         |  SELECT 'contamination_rate' AS metric,
         |    CAST(n_contaminated AS DOUBLE) / CAST(n_train AS DOUBLE) AS value
         |  FROM contam
         |  UNION ALL SELECT 'exact_dup_rate',
         |    CAST(n_docs - n_unique_fp AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |  FROM base
         |  UNION ALL SELECT 'lang_en_share',
         |    CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM base
         |  UNION ALL SELECT 'mean_quality',
         |    (CAST(q_micro_sum AS DOUBLE) / CAST(n_docs AS DOUBLE)) / 1000000.0
         |  FROM base
         |  UNION ALL SELECT 'mean_tokens_per_doc',
         |    CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM base
         |  UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM base
         |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM base
         |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM base
         |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM base)
         |ORDER BY metric""".stripMargin,
    "q238_trained_classifier" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |f AS (
         |  SELECT doc_id, list_concat(toks,
         |    CASE WHEN len(toks) >= 2 THEN
         |      list_transform(range(1, len(toks)),
         |        i -> toks[i] || '_' || toks[i+1])
         |    ELSE [] END) AS feats,
         |    CASE WHEN CAST(round((${Extended.qualitySql}) * 1000000) AS BIGINT)
         |      >= 640000 THEN 1 ELSE -1 END AS y
         |  FROM t),
         |ex AS (
         |  SELECT doc_id, y, unnest(list_transform(feats,
         |    fe -> CAST('0x' || substr(md5(fe), 1, 8) AS BIGINT) % 1024)) AS b
         |  FROM f),
         |w1 AS (SELECT b, CAST(SUM(y) AS BIGINT) AS w FROM ex GROUP BY b),
         |s1 AS (SELECT ex.doc_id, CAST(SUM(w1.w) AS BIGINT) AS score1
         |       FROM ex JOIN w1 USING (b) GROUP BY ex.doc_id),
         |l1 AS (SELECT f.doc_id, f.y, s1.score1 FROM f JOIN s1 USING (doc_id)),
         |dw AS (SELECT ex.b, CAST(SUM(ex.y) AS BIGINT) AS w
         |       FROM ex JOIN l1 ON ex.doc_id = l1.doc_id
         |       WHERE l1.y * l1.score1 <= 0 GROUP BY ex.b),
         |w2 AS (SELECT w1.b, w1.w + COALESCE(dw.w, 0) AS w
         |       FROM w1 LEFT JOIN dw USING (b)),
         |s2 AS (SELECT ex.doc_id, CAST(SUM(w2.w) AS BIGINT) AS score2
         |       FROM ex JOIN w2 USING (b) GROUP BY ex.doc_id)
         |SELECT l1.doc_id, CAST(l1.y AS BIGINT) AS label, l1.score1, s2.score2,
         |  s2.score2 > 0 AS predicted,
         |  (s2.score2 > 0) = (l1.y > 0) AS correct
         |FROM l1 JOIN s2 USING (doc_id) ORDER BY l1.doc_id""".stripMargin,
    "q218_hash_classifier" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |f AS (
         |  SELECT doc_id, list_concat(toks,
         |    CASE WHEN len(toks) >= 2 THEN
         |      list_transform(range(1, len(toks)),
         |        i -> toks[i] || '_' || toks[i+1])
         |    ELSE [] END) AS feats
         |  FROM t),
         |scored AS (
         |  SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_features,
         |    CAST(COALESCE(list_sum(list_transform(feats,
         |      fe -> ((CAST('0x' || substr(md5(fe), 1, 8) AS BIGINT) % 1024)
         |             * 2654435761) % 2001 - 1000)), 0) AS BIGINT) AS score_fp
         |  FROM f)
         |SELECT doc_id, n_features, score_fp, score_fp > 0 AS quality_label
         |FROM scored ORDER BY doc_id""".stripMargin,
    "q219_adaptive_threshold" ->
      s"""WITH sc AS (
         |  SELECT doc_id, source, ${Extended.qualitySql} AS quality
         |  FROM documents)
         |SELECT doc_id, source, quality,
         |  CAST(row_number() OVER w AS BIGINT) AS src_rank,
         |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src,
         |  CAST(row_number() OVER w AS BIGINT)
         |    > count(*) OVER (PARTITION BY source) // 10 AS kept
         |FROM sc
         |WINDOW w AS (PARTITION BY source ORDER BY quality, doc_id)
         |ORDER BY source, doc_id""".stripMargin,
    // Recursive-CTE replay of the sequential water-fill: row i takes
    // min(cap*n_i, remaining // (k-i)) in ascending-n order. Pure
    // integer arithmetic, so the fill is bit-identical to the
    // driver-loop fill in q252UnimaxAlloc.
    "q252_unimax_alloc" ->
      """WITH RECURSIVE src AS (
        |  SELECT source,
        |    CAST(SUM(len(regexp_split_to_array(lower(trim(text)), ' +')))
        |      AS BIGINT) AS n,
        |    ROW_NUMBER() OVER (ORDER BY
        |      CAST(SUM(len(regexp_split_to_array(lower(trim(text)), ' +')))
        |        AS BIGINT), source) AS rk,
        |    COUNT(*) OVER () AS k
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT CAST(0 AS BIGINT) AS rk, CAST(NULL AS VARCHAR) AS source,
        |    CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS alloc,
        |    (SELECT CAST(SUM(n) AS BIGINT) // 3 FROM src) AS remaining
        |  UNION ALL
        |  SELECT CAST(s.rk AS BIGINT), s.source, s.n,
        |    LEAST(4 * s.n, w.remaining // (s.k - w.rk)) AS alloc,
        |    w.remaining - LEAST(4 * s.n, w.remaining // (s.k - w.rk))
        |  FROM w JOIN src s ON s.rk = w.rk + 1)
        |SELECT source, n AS n_tokens, alloc AS alloc_tokens,
        |  CAST(alloc * 1000000 // n AS BIGINT) AS epochs_e6,
        |  alloc = 4 * n AS capped
        |FROM w WHERE rk > 0 ORDER BY source""".stripMargin,
    "q211_mixture_weights" ->
      s"""WITH by_src AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len(regexp_split_to_array(lower(trim(text)), ' +')))
         |      AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT SUM(n_tokens) AS total_tokens FROM by_src),
         |wq AS (
         |  SELECT source, n_docs, n_tokens,
         |    CAST(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
         |      AS DOUBLE) AS token_share,
         |    CAST(round(sqrt(CAST(CAST(n_tokens AS DOUBLE) /
         |      CAST(total_tokens AS DOUBLE) AS DOUBLE)) * 1000000000.0)
         |      AS BIGINT) AS wq
         |  FROM by_src, tot),
         |wtot AS (SELECT SUM(wq) AS wq_total FROM wq)
         |SELECT source, n_docs, n_tokens, token_share,
         |  CAST(CAST(wq AS DOUBLE) / CAST(wq_total AS DOUBLE) AS DOUBLE)
         |    AS mixture_weight,
         |  CAST(round(CAST(CAST(wq AS DOUBLE) / CAST(wq_total AS DOUBLE)
         |    AS DOUBLE) * 1000000.0) AS BIGINT) AS expected_tokens,
         |  CAST(CAST(round(CAST(CAST(wq AS DOUBLE) / CAST(wq_total AS DOUBLE)
         |    AS DOUBLE) * 1000000.0) AS BIGINT) AS DOUBLE)
         |    / CAST(n_tokens AS DOUBLE) AS sampling_factor
         |FROM wq, wtot ORDER BY source""".stripMargin,
  )
}
