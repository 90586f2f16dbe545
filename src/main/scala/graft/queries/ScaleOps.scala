package graft.queries

import graft.Tables
import graft.Tables.documents
import graft.functions.Funcs
import graft.operators.{SemanticDedup, Similarity, SuffixRank, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 scale operators: semantic dedup (k-means + within-cluster
  * near-dup), bloom-filter semi-join reduction, per-domain quota
  * capping, and substring-level duplicate-span detection. Each is
  * DuckDB-oracle hash-checked like every other registered query.
  */
object ScaleOps {

  type Q = (SparkSession, String) => DataFrame

  import SimilarityOps.quantized

  /** Bloom-literal ceiling for q98: at the default fpp (0.03, ~7.3
    * bits/key) 1M keys is ~0.9 MB of literal bits in every task's
    * serialized plan — the practical limit for a plan-embedded
    * filter. A dim bigger than this still prunes (degraded fpp);
    * a dim orders of magnitude bigger wants Spark's own runtime
    * bloom rewrite or a semi-join instead of a literal. */
  private val MaxBloomKeys = 1000000L

  /** SemDeDup: 2 Lloyd iterations of cosine k-means (k=8) from the
    * md5-picked codebook, then near-dup flags within clusters at
    * cosine ≥ 0.45 with keep-smallest-id survivorship. The oracle
    * replays the identical integer-exact iterations in SQL. */
  def q97SemanticDedup(s: SparkSession, dir: String): DataFrame =
    SemanticDedup.semdup(quantized(s, dir), k = 8, iters = 2, tau = 0.45)
      .orderBy("vec_id")

  /** Bloom-pruned star join: build a bloom filter over the filtered
    * customer segment's key hashes (graft_bloom_agg), prune orders at
    * scan speed (graft_might_contain), THEN join exactly — the result
    * is identical to the plain join (false positives die in the
    * join), which is exactly what the oracle checks.
    *
    * EAGER at build time (like q105): constructing this DataFrame
    * runs two driver actions — the dim count that sizes the filter
    * and the 1-row bloom aggregate itself. The filter then ships as a
    * plan literal, so its size is capped ([[MaxBloomKeys]]): past the
    * cap the filter keeps its bit budget and simply degrades in fpp
    * (a bloom filter over-capacity prunes less but never wrongly) —
    * the serialized plan can never balloon to the dim's cardinality. */
  def q98BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    val orders = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_totalprice"))
    // size the filter from the build side (tiny driver scalar on
    // the already-filtered dim) — a fixed oversize would inline
    // megabytes of literal bits into every task's plan, and an
    // uncapped build-side count would do the same for a huge dim
    val dimKeys = math.min(math.max(cust.count(), 1L), MaxBloomKeys)
    val bloomBytes = cust
      .agg(call_function("graft_bloom_agg",
        xxhash64(col("c_custkey")), lit(dimKeys)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pruned = orders.filter(call_function("graft_might_contain",
      lit(bloomBytes), xxhash64(col("o_custkey"))))
    pruned.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(lit(1)).as("order_count"),
        Funcs.dsum(col("o_totalprice")).as("total_spend"))
      .orderBy("c_custkey")
  }

  /** Per-domain quota capping — the per-source document cap a crawl
    * curation pipeline applies so no single domain dominates the
    * training mix: keep the 10 highest-quality docs per source
    * (deterministic doc_id tie-break). One keyed window, no global
    * ordering anywhere. */
  def q99DomainCap(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id"))
    d.withColumn("rank_in_source", row_number().over(w))
      .filter(col("rank_in_source") <= 10)
      .select(col("source"), col("rank_in_source"), col("doc_id"),
        col("lang"), col("quality"))
      .orderBy("source", "rank_in_source")
  }

  /** Substring-level duplicate spans: word 8-grams appearing in more
    * than one document, counted per document — the scan-shuffle-scan
    * shape of exact substring dedup at corpus scale (shuffle keys are
    * n-gram strings, never whole documents). */
  def q100DupSpans(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val t = documents(s, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    // gated gram-exchange sizing (ExplodedJoin, round-10 sweep of the
    // q225 hazard class); the doc-keyed count aggregates are hash
    // aggs over a doc-bounded key space and stay at planner defaults
    val grams = ExplodedJoin.sizer(s,
      Tables.documentCount(s, dir) * 64L, col("gram"))(
      t.select(col("doc_id"),
        explode(TextAnalysis.wordNgrams(col("toks"), n)).as("gram")))
    val dupGrams = grams.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gram")
    val totals = grams.groupBy("doc_id").agg(count(lit(1)).as("total_spans"))
    val dups = grams.join(dupGrams, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_spans"))
    documents(s, dir).select("doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("total_spans"), lit(0L)).as("total_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        when(coalesce(col("total_spans"), lit(0L)) > 0,
          coalesce(col("dup_spans"), lit(0L)).cast("double") /
            col("total_spans").cast("double"))
          .otherwise(lit(0.0)).cast("double").as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** q237 — duplicate-span REMOVAL (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" §3 ExactSubstr:
    * duplicated substrings are CUT OUT of every document that
    * carries them, not just flagged — q100 is the detector, this is
    * the surgery, and the pair is the substring-granularity
    * counterpart of q93's doc-level survivor emission). A token
    * position is removed iff it lies inside any word 8-gram that
    * appears in ≥2 documents; the cleaned text is the surviving
    * tokens rejoined in order. Plan: gram-keyed shuffle (the q100
    * dup-gram set) → flagged starts explode to ≤8 covered offsets →
    * (doc, pos) distinct → anti-join against the posexploded tokens
    * → one per-doc aggregation rebuilds the text (array_sort on
    * (pos, token) structs, so collect_list order never matters).
    * Every shuffle key is a gram or a (doc, pos) pair — never a doc
    * pair — and the 8× coverage explode is a constant factor, so the
    * whole pass stays linear in corpus size at 100 TB. */
  def q237DupSpanRemoval(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val t = documents(s, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val grams = t.select(col("doc_id"),
      posexplode(TextAnalysis.wordNgrams(col("toks"), n))
        .as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("start"), col("gram"))
    // Gated exchange sizing for ALL THREE corpus-exploded key
    // families this surgery shuffles on (ExplodedJoin scaladoc — the
    // q225 hazard class, round-10 sweep): the gram frame (~46
    // grams/doc), the coverage explode (≤8 offsets per dup-gram
    // occurrence, so ×512/doc overbound), and the token map (~50
    // tokens/doc). Each family's two join/agg inputs share ONE sizer
    // so they stay co-partitioned.
    val nDocs = Tables.documentCount(s, dir)
    val sizedGram = ExplodedJoin.sizer(s, nDocs * 64L, col("gram"))
    val sizedPos = ExplodedJoin.sizer(s, nDocs * 512L, col("doc_id"), col("pos"))
    val sizedDoc = ExplodedJoin.sizer(s, nDocs * 64L, col("doc_id"))
    val gramsS = sizedGram(grams)
    val dupGrams = gramsS.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gram")
    val covered = sizedPos(gramsS.join(dupGrams, "gram")
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + (n - 1))).as("pos")))
      .distinct()
    val toks = t.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("token"))
      .filter(col("token") =!= "")
    val kept = sizedDoc(sizedPos(toks).join(covered, Seq("doc_id", "pos"), "left_anti"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("token")))),
            x => x.getField("token"))).as("clean_text"))
    t.select(col("doc_id"),
        size(filter(col("toks"), x => x =!= "")).cast("bigint")
          .as("total_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("total_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("removed_tokens"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** q250 — repeated-substring panel over TRUE SUFFIX RANKS
    * (Lee et al. 2022 §3 builds a suffix array for ExactSubstr dedup;
    * q237's word 8-grams approximate it at fixed resolution — this
    * computes the real structure at character granularity via
    * distributed prefix doubling, [[graft.operators.SuffixRank]]).
    * Every suffix of every document (truncated to the explicit
    * `maxLen` budget) is ranked lexicographically corpus-wide; the
    * panel reports the 20 longest repeats: for adjacent suffixes in
    * rank order, the longest-common-prefix length (code-point
    * semantics identical to `graft_lcp`), whether the repeat crosses
    * documents, and the repeated snippet. The classic suffix-array
    * fact makes adjacency sufficient: the max LCP between ANY two
    * suffixes is attained by some neighbors in sorted order.
    *
    * Scale shape: O(log maxLen) rounds of (per-doc window + active-
    * subset range exchange + P-row collect) build the ranks
    * (discarding — see SuffixRank); adjacency + LCP run inside ONE
    * range exchange's sorted partitions ([[SuffixRank.adjacentLcp]],
    * round 13 — never an unpartitioned window, no self-join); suffix
    * STRINGS are only materialized for that final pass, bounded by
    * maxLen bytes per row. The DuckDB oracle sorts the truncated
    * suffix strings directly — algorithm-independent ground truth
    * (binary collation ≡ rank order on the ASCII corpus). */
  def q250SuffixPanel(s: SparkSession, dir: String): DataFrame = {
    val T = 240 // truncation budget: bounds rounds, window size, LCP bytes
    val docs = documents(s, dir)
    val r = SuffixRank.ranks(docs, "doc_id", "text", T)
    val txt = docs.select(col("doc_id"), substring(col("text"), 1, T).as("_t"))
    val withSfx = r.join(txt, "doc_id")
      .withColumn("sfx", expr(s"substring(_t, pos + 1, $T)"))
      .select("doc_id", "pos", "rank", "sfx")
    // suffix rows carry ≤T-char strings: size the adjacency sort at
    // ~2M rows (~0.5 GB) per partition so it never external-sorts;
    // the count is cheap (r is checkpoint-materialized by ranks())
    val sfxParts = math.min(4096L, r.count() / 2000000L + 1L).toInt
    // adjacency + LCP in ONE range exchange (round 13, guide §2.4):
    // SuffixRank.adjacentLcp pairs each suffix with its successor in
    // (rank, doc_id, pos) order inside the sorted partitions (P-row
    // boundary stitch), replacing the previous zipWithIndex (range
    // exchange + counts pass) + two hash exchanges + self-join on
    // _gi — the string-carrying exchanges drop from 3 to 1. The LCP
    // and snippet are the same code-point semantics as graft_lcp +
    // substring (value-identical; pinned by spec and the q250 oracle).
    SuffixRank.adjacentLcp(withSfx, minPartitions = sfxParts)
      .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"))
      .limit(20)
  }

  /** PQ-ADC ANN: 4 subspaces × 16 codes over the 64-dim embeddings —
    * every corpus vector compresses to 4 codes; search scores with
    * table lookups. Same md5-deterministic codebook trick as IVF, so
    * the oracle rebuilds the identical index; approx_dist is an
    * integer-exact BIGINT. */
  def q101PqAnn(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    Similarity.pqTopK(c, q, k = 5, ks = 16, m = 4, dim = 64)
      .orderBy("query_id", "rank")
  }

  /** Source-mixture rebalancing (α = 0.5 temperature sampling): keep
    * each source at rate √(maxCount/n_source) so the sampled mix
    * flattens toward √-proportional — the standard multi-source LLM
    * training mix adjustment. Deterministic md5-fraction coin per
    * doc; sqrt/division are IEEE-exact cross-engine. */
  def q102MixtureSample(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val counts = d.groupBy("source").agg(count(lit(1)).as("n_source"))
    // tiny gate scalar (≤ #sources rows aggregated to 1)
    val maxN = counts.agg(max(col("n_source"))).head().getLong(0)
    val rates = counts.withColumn("rate",
      least(sqrt(lit(maxN.toDouble) / col("n_source").cast("double")), lit(1.0)))
    val hashFrac =
      conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("double") / lit(281474976710656.0) // 2^48
    d.select(col("doc_id"), col("source"), col("lang"))
      .join(broadcast(rates), "source")
      .filter(hashFrac < col("rate"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_source"), col("rate").cast("double").as("rate"))
      .orderBy("doc_id")
  }

  /** Truncated-dimension ANN: 16-dim head shortlist (50) + full
    * 64-dim exact re-rank — the matryoshka serving pattern next to
    * PQ (q101); cheap stage = prefix dims instead of codes. */
  def q103TruncatedAnn(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    Similarity.truncatedTopK(c, q, k = 5, headDim = 16, shortlist = 50)
      .orderBy("query_id", "rank")
  }

  /** Document chunking: 32-token windows at stride 24 (8-token
    * overlap) — the RAG/long-context ingestion step; one row per
    * chunk with its token span. */
  def q104TokenChunks(s: SparkSession, dir: String): DataFrame = {
    val t = documents(s, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    t.select(col("doc_id"),
        explode(TextAnalysis.tokenChunks(col("toks"), chunkLen = 32, stride = 24))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.token_start"),
        col("c.n_tokens"), col("c.chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** The capstone composite: the curation pipeline a training-data
    * team actually ships, chaining five library operators end to end —
    * exact-dup survivors (canonical fingerprint, keep min id) →
    * near-dup connected-component survivors (MinHash LSH + Jaccard
    * verify among remaining docs) → quality gate (score ≥ 0.5) →
    * per-source cap (top 20 by quality) → 2000-token shard packing
    * via the distributed prefix sum. Every stage is a shape proven
    * individually (q45/q93/q54/q99/q59); this query proves they
    * COMPOSE, hash-checked as a whole against one DuckDB oracle.
    * Stages 1-4 stay one lazy Catalyst plan; connectedComponents and
    * PrefixSum run eager jobs at BUILD time (CC iterations +
    * subtotal collect), so constructing this DataFrame already
    * executes the dedup chain. */
  def q105CurationPipeline(s: SparkSession, dir: String): DataFrame =
    curate(documents(s, dir)).orderBy("doc_id")

  /** The reusable pipeline body behind q105 — takes any documents
    * frame with (doc_id, source, lang, text). Factored out so the
    * idempotence property (curating an already-curated corpus keeps
    * every row — CurationIdempotenceSpec) can run it on its own
    * output. */
  private[queries] def curate(d: DataFrame): DataFrame = {
    import graft.operators.Dedup
    // 1. exact dedup: keep the smallest doc_id per canonical form
    val exactKeep = d
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")
    // cached: d1 is scanned 4+ times (signature build, the two text
    // fetches of the Jaccard verify, the survivor anti-join chain) and
    // each scan would otherwise recompute the fingerprint groupBy +
    // join; unpersisted before returning — by then the eager stages
    // (CC rounds, prefix-sum subtotals + its persisted sorted input)
    // have run, and the returned plan reads the prefix sum's own
    // persisted frame, not d1
    val d1 = d.join(exactKeep, "doc_id").cache()
    // 2. near-dup clusters among survivors: keep the min-id member
    val sigs = Dedup.minhashSignatures(d1, "doc_id", "text", k = 16, shingleN = 3)
    val cand = Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4, rowsPerBand = 4)
    val pairs = Dedup.verifyJaccard(cand, d1, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.2).select("id_a", "id_b")
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
    val d2 = d1.join(losers, Seq("doc_id"), "left_anti")
    // 3. quality gate (fixed threshold keeps the stage stateless)
    val d3 = d2.withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= 0.5)
    // 4. per-source quota
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id"))
    val d4 = d3.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= 20)
    // 5. shard packing: distributed running token sum, 2000/shard —
    // text is dropped BEFORE the prefix sum (its repartition + persist
    // + Row-serde passes cannot column-prune; the idempotence spec
    // re-attaches text by doc_id join instead)
    val counted = d4.select(col("doc_id"), col("source"), col("lang"),
      col("quality"),
      TextAnalysis.tokenCount(col("text")).cast("bigint").as("token_count"))
    val packed = graft.operators.PrefixSum
      .withRunningSum(counted, "doc_id", "token_count", "cum_tokens")
      .withColumn("shard_id",
        floor((col("cum_tokens") - col("token_count")) / 2000L).cast("bigint"))
      .select(col("doc_id"), col("source"), col("lang"), col("quality"),
        col("token_count"), col("shard_id"))
    d1.unpersist(blocking = false)
    packed
  }

  /** EWMA anomaly baseline (exponential smoothing, α = 1/2): per
    * user, fold daily event counts in day order — s_i = (s_{i-1} +
    * x_i)/2 — counting days where the count exceeds 2× the running
    * baseline. The recursive family next to the reference's z-score
    * monitor: both engines run the IDENTICAL left fold over the
    * day-sorted array, so the doubles agree bit-for-bit (and α = 1/2
    * keeps every step an exact binary fraction at this depth).
    * Scale shape: one keyed agg to daily counts, one keyed agg to
    * per-user arrays (bounded by the date span), fold at scan speed
    * — per-entity state never exceeds the day count. */
  def q106EwmaSpikes(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val arr = daily.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("day"), col("cnt")))).as("a"))
    val enc = transform(col("a"), x => x.getField("cnt").cast("double"))
    arr.select(col("user_id"), size(col("a")).as("n_days"),
        aggregate(enc, struct(lit(0.0).as("e"), lit(0).as("s")), (acc, x) =>
          struct((acc.getField("e") * 0.5 + x * 0.5).as("e"),
            (acc.getField("s") +
              when(x > acc.getField("e") * 2.0 &&
                acc.getField("e") > 0.0, 1).otherwise(0)).as("s"))).as("r"))
      .select(col("user_id"), col("n_days"),
        col("r.e").cast("double").as("ewma_final"), col("r.s").as("spike_days"))
      .orderBy("user_id")
  }

  /** Embedding-distribution drift monitor: per-label centroid shift
    * between two corpus halves (vec_id parity stands in for
    * batch/time split) — the embedding-space analog of the
    * reference's distribution-drift monitors. Centroids are integer
    * SUM vectors (cosine is scale-invariant — SemanticDedup's trick),
    * so the whole check is one bounded aggregation: shuffle keys are
    * (label, half, dim) and no vector is ever materialized twice.
    * Random synthetic halves score near 0 (no stable per-label
    * direction) — exactly what a drift gate should say here. */
  def q109EmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("label"),
      (col("vec_id") % 2).cast("int").as("half"),
      Similarity.quantize(col("embedding")).as("v"))
    val cents = e.select(col("label"), col("half"), posexplode(col("v")))
      .groupBy("label", "half", "pos").agg(sum(col("col")).as("s"))
      .groupBy("label", "half")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("cv"))
    val cnt = e.groupBy("label", "half").agg(count(lit(1)).as("n"))
    val a = cents.filter(col("half") === 0).select(col("label"), col("cv").as("cva"))
    val b = cents.filter(col("half") === 1).select(col("label"), col("cv").as("cvb"))
    val ca = cnt.filter(col("half") === 0).select(col("label"), col("n").as("n_first"))
    val cb = cnt.filter(col("half") === 1).select(col("label"), col("n").as("n_second"))
    a.join(b, "label").join(ca, "label").join(cb, "label")
      .withColumn("centroid_cosine", Similarity.cosineQ(col("cva"), col("cvb")))
      .select(col("label"), col("n_first"), col("n_second"),
        col("centroid_cosine"), (col("centroid_cosine") < 0.5).as("is_drifted"))
      .orderBy("label")
  }

  /** Binary-quantized ANN: sign-bit codes (64 dims → 8 bytes),
    * Hamming shortlist of 50, exact cosine re-rank top-5 — the
    * 1-bit extreme of the compression ladder next to PQ (q101) and
    * matryoshka (q103). */
  def q110BinaryAnn(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    Similarity.binaryTopK(c, q, k = 5, shortlist = 50)
      .orderBy("query_id", "rank")
  }

  /** Compressed-ANN funnel: sign-bit Hamming wide shortlist (150) →
    * PQ-ADC (8 subspaces × 64 codes) rescoring of the survivors →
    * exact cosine re-rank of the 50 ADC-best — recall@5 0.86 at the
    * same 10% exact budget where binary-only (q110) measures 0.71 and
    * PQ-only (q101) 0.41 (SimilaritySpec ladder). Codebook is the
    * md5-deterministic draw so the oracle replays the identical
    * index. */
  def q111FunnelAnn(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    Similarity.funnelTopK(c, q, k = 5, hammingShortlist = 150, rerank = 50,
      ks = 64, m = 8, dim = 64)
      .orderBy("query_id", "rank")
  }

  /** Hybrid retrieval with reciprocal-rank fusion (the RAG serving /
    * curation-triage pattern): a lexical retriever (distinct-token
    * overlap) and a vector retriever (integer-quantized dot) each
    * rank the corpus per query; their top-50 lists are fused with
    * RRF(k=60) = 1/(60+r_lex) + 1/(60+r_vec) over the INTERSECTION of
    * the lists, and the fused top-10 is returned. Ranks are integers
    * and each RRF term is one correctly-rounded IEEE division, so the
    * fusion is trivially hash-exact cross-engine — no score-scale
    * calibration between retrievers is ever needed (RRF's point).
    * Scale shape: the lexical retriever is a true INVERTED-INDEX join
    * — explode distinct tokens to (token, doc) postings, PRUNE hot
    * postings (document frequency > N/10: stopword-grade tokens whose
    * lists grow with the corpus and carry no discriminative signal —
    * without the cap, "the"'s posting list alone fans the join out by
    * |docs containing it| × |queries|), equi-join query postings,
    * count shared RARE tokens per (query, doc) — keyed shuffles only,
    * never a per-pair set intersection (a broadcast crossJoin with
    * array_intersect measured 8× slower at sf0.1 and would not
    * survive a corpus scale-up at all); only docs sharing ≥1 rare
    * term rank, which is what a lexical retriever means. The vector
    * retriever is the bounded-query-set broadcast scan (q49's
    * contract). WindowGroupLimit caps each list at 50; fusion is an
    * equi-join on (query, doc). At production scale the vector side
    * would swap in its ANN form (q111) with fusion unchanged.
    *
    * EAGER at build time (like q98/q105): one count() sizes the df
    * cap. */
  def q112HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .select(col("doc_id"),
        array_distinct(TextAnalysis.tokens(col("text"))).as("toks"))
    val emb = quantized(s, dir)
    val maxDf = math.max(1L, docs.count() / 10)
    val q = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("toks").as("qtoks"))
    val qv2 = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qv"))
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("overlap").desc, col("doc_id"))
    val dTok = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
    val rare = dTok.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("tok")
    val dTokF = dTok.join(rare, "tok")
    val qTok = q.select(col("query_id"), explode(col("qtoks")).as("tok"))
    val lex = dTokF.join(qTok, "tok")
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("int").as("overlap"))
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= 50)
      .select(col("query_id"), col("doc_id"), col("overlap"), col("lex_rank"))
    val wVec = Window.partitionBy("query_id")
      .orderBy(col("dot").desc, col("vec_id"))
    val vec = emb.crossJoin(broadcast(qv2))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("dot", Similarity.dotFast(col("query_vec"), col("qv")))
      .withColumn("vec_rank", row_number().over(wVec))
      .filter(col("vec_rank") <= 50)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("vec_rank"))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(vec, Seq("query_id", "doc_id"))
      .withColumn("rrf_score",
        lit(1.0) / (lit(60.0) + col("lex_rank")) +
          lit(1.0) / (lit(60.0) + col("vec_rank")))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("overlap"),
        col("lex_rank"), col("vec_rank"), col("rrf_score"))
      .orderBy("query_id", "rank")
  }

  /** Exact corpus-wide frequent tokens via the two-pass Misra-Gries
    * funnel (operators.HeavyHitters): bounded-state sketch pass
    * (≤1024 pairs per task in the shuffle — never the token stream)
    * finds a guaranteed-superset candidate list, then an exact
    * recount of candidates only. minSupport 0.002 > 1/1025 keeps the
    * funnel lossless, so the output is the exact HAVING-threshold
    * answer the oracle recomputes with a full GROUP BY. */
  def q113HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("item"))
    graft.operators.HeavyHitters
      .frequentItems(toks, "item", minSupport = 0.002, capacity = 1024)
      .orderBy(col("freq").desc, col("item"))
  }

  /** IVF-PQ (Similarity.ivfPqTopK): coarse pruning to 4 of 16
    * inverted lists × PQ-ADC scoring of only those lists' 8-byte
    * codes × exact re-rank of the 50 ADC-best — FAISS's canonical
    * IVF16,PQ8 as one composed Spark plan. The candidate stage is a
    * broadcast hash join on the list id (no cross join): ~25% of the
    * corpus is touched, at m=8 lookups per pair. Queries ride the
    * [[SimilarityOps.FixedIvfQueryBudget]] md5-sampled slice (the
    * q49 sampled contract): the fixed-16 occupancy growth stays the
    * measured contrast, without the corpus-proportional query
    * multiplier that made this family quadratic+spilling at sf10. */
  def q119IvfPqAnn(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val q = SimilarityOps.querySetSampled(c, SimilarityOps.FixedIvfQueryBudget)
    Similarity.ivfPqTopK(c, q, k = 5, numCentroids = 16, nprobe = 4,
        ks = 16, m = 8, dim = 64, shortlist = 50)
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ on residuals (Similarity.ivfPqResidualTopK): identical
    * serving shape and scan budget to q119 — 4 of 16 lists, 8-byte
    * codes, 50 re-ranked — but the codes quantize each vector's
    * OFFSET from its coarse centroid (FAISS's canonical IVFADC), so
    * the same code budget resolves much finer and recall rises at
    * equal cost (measured in SimilaritySpec against q119's raw-coded
    * variant). */
  def q127IvfPqResidual(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    Similarity.ivfPqResidualTopK(c, q, k = 5, numCentroids = 16, nprobe = 4,
        ks = 16, m = 8, dim = 64, shortlist = 50)
      .orderBy("query_id", "rank")
  }

  /** IVFADC at the corpus-scaled coarse codebook
    * (Similarity.ivfPqResidualTopKAuto): q127's exact serving shape
    * with ⌈√n⌉ L2-trained-draw cells — the regime where residual
    * coding actually pays (q127's measured caveat) and the
    * configuration that survives the sweep's second decade (the
    * fixed-16 family measured e≈1.9-2.1 with spill at sf10). Native
    * L2 assignment/probing projections; no broadcast hints — the
    * |Q|·nprobe residual distance tables outgrow broadcast exactly
    * when query load scales with the corpus. */
  def q229IvfAdcAuto(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    Similarity.ivfPqResidualTopKAuto(c, q, k = 5, nprobe = 4,
        ks = 16, m = 8, dim = 64, shortlist = 50)
      .orderBy("query_id", "rank")
  }

  /** Lloyd-refined auto-IVF (Similarity.ivfSearchWith over
    * SemanticDedup.kmeans): q228's ⌈√n⌉ serving shape with the
    * codebook improved by 2 integer-Lloyd rounds — the production
    * IVF training step (FAISS trains its coarse quantizer the same
    * way; the Lloyd-refined PQ codebook measured +0.11 recall in
    * SimilaritySpec). Centroids stay integer SUM vectors (cosine is
    * scale-invariant, so no division — what keeps every round
    * bit-replayable in SQL: q97's proven assign/update CTEs at a
    * dynamic COUNT(*)-derived k). Per round: one native assignment
    * scan + one (cid,pos)-keyed sum — k ≤ the documented
    * driver-codebook ceiling. */
  def q230IvfLloydAuto(s: SparkSession, dir: String): DataFrame = {
    val c = quantized(s, dir)
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    val numC = math.max(1, math.ceil(math.sqrt(c.count().toDouble)).toInt)
    val cents = SemanticDedup.kmeans(c, numC, iters = 2)
    Similarity.ivfSearchWith(c, q, k = 5, nprobe = 4, cents)
      .orderBy("query_id", "rank")
  }

  /** Grouped frequent items: top tokens PER LANGUAGE via the same
    * lossless sketch-then-recount funnel, keyed by group — per-group
    * sketch state stays ≤1024 pairs per task regardless of corpus
    * size, and support is measured against each language's own token
    * count. */
  def q120GroupedHh(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("item"))
    graft.operators.HeavyHitters
      .frequentItemsByGroup(toks, "lang", "item", minSupport = 0.004, capacity = 1024)
      .withColumnRenamed("group", "lang")
      .orderBy(col("lang"), col("freq").desc, col("item"))
  }

  /** Incremental rollup maintenance: the nightly-job shape that keeps
    * a (event_type, day) rollup current WITHOUT re-aggregating
    * history. History partials (standing in for the stored rollup
    * table) and the new day's partials are each one partition-pruned
    * scan + keyed partial aggregate; the merge is a keyed sum/min/max
    * over partials — every aggregate here is chosen mergeable (count,
    * decimal sum, min, max; avg DERIVED from sum/count post-merge;
    * distinct-counts would need the q76 KMV sketch, by design). At
    * 100 TB the history side is the already-materialized rollup (a
    * few rows per key), so the job's cost is the delta partition
    * scan, not the corpus. The oracle recomputes the rollup from the
    * full table in one pass — equality IS the merge-algebra theorem.
    * Sums stay DECIMAL through the merge (double partial sums would
    * not re-associate exactly). */
  def q123IncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-12-01").cast("date")
    val ev = Tables.events(s, dir).select(
      col("event_type"), col("ts").cast("date").as("event_date"),
      col("value").cast("decimal(18,2)").as("v"))
    def partials(df: DataFrame): DataFrame = df
      .groupBy("event_type", "event_date")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("vsum"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val stored = partials(ev.filter(col("event_date") < cutoff))
    val delta = partials(ev.filter(col("event_date") >= cutoff))
    stored.unionByName(delta)
      .groupBy("event_type", "event_date")
      .agg(sum(col("cnt")).as("cnt"), sum(col("vsum")).as("vsum"),
        min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
      .select(col("event_type"), col("event_date"), col("cnt"),
        col("vsum").cast("double").as("value_sum"),
        (col("vsum").cast("double") / col("cnt")).cast("double").as("value_avg"),
        col("vmin").cast("double").as("value_min"),
        col("vmax").cast("double").as("value_max"))
      .orderBy("event_type", "event_date")
  }

  /** Count-Min sketch probe counts (plans.CmsSketchAgg): one bounded
    * 4×512 counter grid per source — elementwise-mergeable, so the
    * shuffle carries 16 KiB per source per task, never the token
    * stream — then point estimates for a literal probe list via
    * min-over-rows lookups whose flat indices FOLD INTO THE PLAN as
    * constants (probes are literals; no second scan, no join against
    * the sketch). The exact recount joins in only the probe tokens'
    * counts (isin-pruned scan) to exhibit the CMS one-sided
    * guarantee: est >= exact always, over by at most the colliding
    * mass. Unlike MG (q113), the whole grid is merge-order
    * DETERMINISTIC, so the oracle rebuilds it cell by cell.
    */
  def q195CmsCounts(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.CmsSketchAgg
    val depth = 4
    val width = 512
    val probes = Seq("join", "hash", "scan", "filter", "merge", "column",
      "spark", "zzz_absent")
    val toks = documents(s, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
    val sketches = toks.groupBy("source")
      .agg(expr(s"graft_cms(md5(tok), $depth, $width)").as("cms"))
    val probeStructs = probes.map { p =>
      val h = CmsSketchAgg.md5Hex(p)
      // element_at is 1-based; row-major flat index i*width + bucket
      val cells = (0 until depth).map(i =>
        element_at(col("cms"), i * width + CmsSketchAgg.bucket(h, i, width) + 1))
      struct(lit(p).as("tok"), least(cells: _*).as("cms_est"))
    }
    val ests = sketches
      .select(col("source"), explode(array(probeStructs: _*)).as("pe"))
      .select(col("source"), col("pe.tok").as("tok"), col("pe.cms_est").as("cms_est"))
    // Row universe = DISTINCT source × probes (matching the oracle's
    // srcs CTE): a source whose documents yield zero non-empty tokens
    // has no sketch row, but must still appear with zero estimates.
    val universe = documents(s, dir).select(col("source")).distinct()
      .select(col("source"), explode(array(probes.map(lit(_)): _*)).as("tok"))
    val estsAll = universe.join(ests, Seq("source", "tok"), "left")
      .withColumn("cms_est", coalesce(col("cms_est"), lit(0L)))
    val exact = toks.where(col("tok").isin(probes: _*))
      .groupBy("source", "tok").agg(count(lit(1)).as("exact_count"))
    estsAll.join(exact, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        col("cms_est"),
        (col("cms_est") >= coalesce(col("exact_count"), lit(0L)))
          .as("never_underestimates"))
      .orderBy("source", "tok")
  }

  val queries: Map[String, Q] = Map(
    "q195_cms_counts" -> q195CmsCounts _,
    "q97_semantic_dedup" -> q97SemanticDedup _,
    "q123_incremental_rollup" -> q123IncrementalRollup _,
    "q113_heavy_hitters" -> q113HeavyHitters _,
    "q119_ivfpq_ann" -> q119IvfPqAnn _,
    "q127_ivfpq_residual" -> q127IvfPqResidual _,
    "q229_ivfadc_auto" -> q229IvfAdcAuto _,
    "q230_ivf_lloyd_auto" -> q230IvfLloydAuto _,
    "q120_grouped_hh" -> q120GroupedHh _,
    "q111_funnel_ann" -> q111FunnelAnn _,
    "q112_hybrid_rrf" -> q112HybridRrf _,
    "q103_truncated_ann" -> q103TruncatedAnn _,
    "q104_token_chunks" -> q104TokenChunks _,
    "q105_curation_pipeline" -> q105CurationPipeline _,
    "q106_ewma_spikes" -> q106EwmaSpikes _,
    "q109_embedding_drift" -> q109EmbeddingDrift _,
    "q110_binary_ann" -> q110BinaryAnn _,
    "q98_bloom_join" -> q98BloomJoin _,
    "q99_domain_cap" -> q99DomainCap _,
    "q100_dup_spans" -> q100DupSpans _,
    "q237_dup_span_removal" -> q237DupSpanRemoval _,
    "q250_suffix_panel" -> q250SuffixPanel _,
    "q101_pq_ann" -> q101PqAnn _,
    "q102_mixture_sample" -> q102MixtureSample _,
  )

  private val qv =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS DOUBLE))"

  /** Nearest-centroid assignment against codebook CTE `cents`. */
  private def assignSql(cents: String): String =
    s"""(SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_dot_product(e.v, c.cv) / sqrt(list_dot_product(c.cv, c.cv))
       |      DESC, c.cid) rn
       |  FROM e, $cents c) WHERE rn = 1)""".stripMargin

  /** Element-wise integer sum centroid rebuild from assignment CTE. */
  private def updateSql(a: String): String =
    s"""(SELECT cid, list(s ORDER BY i) AS cv FROM (
       |  SELECT $a.cid, s.i, SUM(e.v[s.i]) AS s
       |  FROM $a JOIN e USING (vec_id), generate_series(1, 64) s(i)
       |  GROUP BY 1, 2) GROUP BY cid)""".stripMargin

  // the one shared DuckDB replica of TextAnalysis.qualityScore —
  // q42/q54 proved its cross-engine double parity
  private def qualitySql = Extended.qualitySql

  private val oraclesFixed: Map[String, String] = Map(
    "q195_cms_counts" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS tok
        |  FROM documents),
        |tf AS (SELECT source, tok, md5(tok) AS h FROM toks WHERE tok <> ''),
        |rows_i AS (SELECT * FROM (VALUES (0),(1),(2),(3)) r(i)),
        |cells AS (
        |  SELECT source, r.i,
        |    CAST('0x' || substr(h, 1 + r.i * 6, 6) AS BIGINT) % 512 AS bucket,
        |    COUNT(*) AS c
        |  FROM tf CROSS JOIN rows_i r GROUP BY 1, 2, 3),
        |probes AS (SELECT * FROM (VALUES ('join'),('hash'),('scan'),('filter'),
        |  ('merge'),('column'),('spark'),('zzz_absent')) p(tok)),
        |probe_cells AS (
        |  SELECT p.tok, r.i,
        |    CAST('0x' || substr(md5(p.tok), 1 + r.i * 6, 6) AS BIGINT) % 512 AS bucket
        |  FROM probes p CROSS JOIN rows_i r),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |est AS (
        |  SELECT s.source, pc.tok, MIN(COALESCE(c.c, 0)) AS cms_est
        |  FROM srcs s CROSS JOIN probe_cells pc
        |  LEFT JOIN cells c
        |    ON c.source = s.source AND c.i = pc.i AND c.bucket = pc.bucket
        |  GROUP BY 1, 2),
        |exact AS (
        |  SELECT source, tok, COUNT(*) AS exact_count FROM tf
        |  WHERE tok IN ('join','hash','scan','filter','merge','column','spark','zzz_absent')
        |  GROUP BY 1, 2)
        |SELECT e.source, e.tok,
        |  CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count,
        |  CAST(e.cms_est AS BIGINT) AS cms_est,
        |  e.cms_est >= COALESCE(x.exact_count, 0) AS never_underestimates
        |FROM est e LEFT JOIN exact x ON x.source = e.source AND x.tok = e.tok
        |ORDER BY e.source, e.tok""".stripMargin,
    "q123_incremental_rollup" ->
      """SELECT event_type, CAST(ts AS DATE) AS event_date,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |    AS DOUBLE) AS value_avg,
        |  CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_min,
        |  CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_max
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, event_date""".stripMargin,
    "q119_ivfpq_ann" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |qs AS (SELECT vec_id, v FROM e WHERE vec_id % 10 = 0
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT ${SimilarityOps.FixedIvfQueryBudget}),
         |cent AS (SELECT vec_id AS cid, v FROM e
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, c.v) /
         |               sqrt(list_dot_product(c.v, c.v)) DESC, c.cid) AS rn
         |    FROM e, cent c) WHERE rn = 1),
         |probe AS (SELECT query_id, cid FROM (
         |    SELECT q.vec_id AS query_id, c.cid, ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |               sqrt(list_dot_product(c.v, c.v)) DESC, c.cid) AS rn
         |    FROM qs q, cent c) WHERE rn <= 4),
         |pqc AS (SELECT ROW_NUMBER() OVER (
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k, v
         |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |sub AS (SELECT c.k, j.j, c.v[j.j*8+1 : j.j*8+8] AS cv,
         |    list_dot_product(c.v[j.j*8+1 : j.j*8+8],
         |                     c.v[j.j*8+1 : j.j*8+8]) AS cn2
         |  FROM pqc c, generate_series(0, 7) j(j)),
         |codes AS (SELECT vec_id, j, k AS code FROM (
         |  SELECT e.vec_id, s.j, s.k,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.j
         |      ORDER BY s.cn2 - 2 * list_dot_product(e.v[s.j*8+1 : s.j*8+8], s.cv),
         |        s.k) rn
         |  FROM e, sub s) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v FROM qs),
         |dt AS (SELECT q.query_id, s.j, s.k,
         |    CAST(list_dot_product(q.v[s.j*8+1 : s.j*8+8], q.v[s.j*8+1 : s.j*8+8])
         |      - 2 * list_dot_product(q.v[s.j*8+1 : s.j*8+8], s.cv)
         |      + s.cn2 AS BIGINT) AS d
         |  FROM q, sub s),
         |cand AS (SELECT p.query_id, a.vec_id
         |  FROM probe p JOIN assign a ON a.cid = p.cid
         |  WHERE a.vec_id != p.query_id),
         |scored AS (SELECT cand.query_id, cand.vec_id,
         |    CAST(SUM(dt.d) AS BIGINT) AS approx_dist
         |  FROM cand
         |  JOIN codes c ON c.vec_id = cand.vec_id
         |  JOIN dt ON dt.query_id = cand.query_id
         |    AND dt.j = c.j AND dt.k = c.code
         |  GROUP BY 1, 2),
         |short AS (SELECT query_id, vec_id, approx_dist FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY approx_dist, vec_id) AS arank
         |  FROM scored) WHERE arank <= 50),
         |rr AS (SELECT s.query_id, s.vec_id, s.approx_dist,
         |    CAST(list_dot_product(cv.v, cv.v)
         |      - 2 * list_dot_product(cv.v, qv.v)
         |      + list_dot_product(qv.v, qv.v) AS BIGINT) AS l2_dist
         |  FROM short s
         |  JOIN e cv ON cv.vec_id = s.vec_id
         |  JOIN e qv ON qv.vec_id = s.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, l2_dist, approx_dist
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY l2_dist, vec_id) AS rank
         |  FROM rr) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // q119's oracle with the residual refinement: codes and ADC
    // tables are computed against (vector − assigned centroid) /
    // (query − probed centroid); everything else is identical
    "q127_ivfpq_residual" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cid, v FROM e
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |assign AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(c.v, c.v)
         |        - 2 * list_dot_product(e.v, c.v) ASC, c.cid) AS rn
         |    FROM e, cent c) WHERE rn = 1),
         |probe AS (SELECT query_id, cid FROM (
         |    SELECT q.vec_id AS query_id, c.cid, ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(c.v, c.v)
         |        - 2 * list_dot_product(q.v, c.v) ASC, c.cid) AS rn
         |    FROM e q, cent c WHERE q.vec_id % 10 = 0) WHERE rn <= 4),
         |res AS (SELECT e.vec_id, a.cid,
         |    list_transform(generate_series(1, 64), i -> e.v[i] - c.v[i]) AS r
         |  FROM e JOIN assign a ON a.vec_id = e.vec_id
         |  JOIN cent c ON c.cid = a.cid),
         |pqc AS (SELECT ROW_NUMBER() OVER (
         |    ORDER BY md5('r' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k, r AS v
         |  FROM res ORDER BY md5('r' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |sub AS (SELECT c.k, j.j, c.v[j.j*8+1 : j.j*8+8] AS cv,
         |    list_dot_product(c.v[j.j*8+1 : j.j*8+8],
         |                     c.v[j.j*8+1 : j.j*8+8]) AS cn2
         |  FROM pqc c, generate_series(0, 7) j(j)),
         |codes AS (SELECT vec_id, cid, j, k AS code FROM (
         |  SELECT r.vec_id, r.cid, s.j, s.k,
         |    ROW_NUMBER() OVER (PARTITION BY r.vec_id, s.j
         |      ORDER BY s.cn2 - 2 * list_dot_product(r.r[s.j*8+1 : s.j*8+8], s.cv),
         |        s.k) rn
         |  FROM res r, sub s) WHERE rn = 1),
         |rq AS (SELECT p.query_id, p.cid,
         |    list_transform(generate_series(1, 64), i -> q.v[i] - c.v[i]) AS r
         |  FROM probe p JOIN e q ON q.vec_id = p.query_id
         |  JOIN cent c ON c.cid = p.cid),
         |dt AS (SELECT rq.query_id, rq.cid, s.j, s.k,
         |    CAST(list_dot_product(rq.r[s.j*8+1 : s.j*8+8], rq.r[s.j*8+1 : s.j*8+8])
         |      - 2 * list_dot_product(rq.r[s.j*8+1 : s.j*8+8], s.cv)
         |      + s.cn2 AS BIGINT) AS d
         |  FROM rq, sub s),
         |cand AS (SELECT p.query_id, a.vec_id, a.cid
         |  FROM probe p JOIN assign a ON a.cid = p.cid
         |  WHERE a.vec_id != p.query_id),
         |scored AS (SELECT cand.query_id, cand.vec_id,
         |    CAST(SUM(dt.d) AS BIGINT) AS approx_dist
         |  FROM cand
         |  JOIN codes c ON c.vec_id = cand.vec_id
         |  JOIN dt ON dt.query_id = cand.query_id AND dt.cid = cand.cid
         |    AND dt.j = c.j AND dt.k = c.code
         |  GROUP BY 1, 2),
         |short AS (SELECT query_id, vec_id, approx_dist FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY approx_dist, vec_id) AS arank
         |  FROM scored) WHERE arank <= 50),
         |rr AS (SELECT s.query_id, s.vec_id, s.approx_dist,
         |    CAST(list_dot_product(cv.v, cv.v)
         |      - 2 * list_dot_product(cv.v, qv.v)
         |      + list_dot_product(qv.v, qv.v) AS BIGINT) AS l2_dist
         |  FROM short s
         |  JOIN e cv ON cv.vec_id = s.vec_id
         |  JOIN e qv ON qv.vec_id = s.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, l2_dist, approx_dist
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY l2_dist, vec_id) AS rank
         |  FROM rr) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q120_grouped_hh" ->
      """WITH toks AS (
        |  SELECT lang,
        |    unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS item
        |  FROM documents),
        |tot AS (SELECT lang, COUNT(*) AS n FROM toks GROUP BY 1)
        |SELECT t.lang, t.item, COUNT(*) AS freq, tot.n
        |FROM toks t JOIN tot ON tot.lang = t.lang
        |GROUP BY t.lang, t.item, tot.n
        |HAVING CAST(COUNT(*) AS DOUBLE) >= 0.004 * tot.n
        |ORDER BY t.lang, freq DESC, t.item""".stripMargin,
    "q113_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS item
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM toks)
        |SELECT item, COUNT(*) AS freq, n
        |FROM toks, tot
        |GROUP BY item, n
        |HAVING CAST(COUNT(*) AS DOUBLE) >= 0.002 * n
        |ORDER BY freq DESC, item""".stripMargin,
    "q97_semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e
         |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         |a0 AS ${assignSql("c0")},
         |c1 AS ${updateSql("a0")},
         |a1 AS ${assignSql("c1")},
         |c2 AS ${updateSql("a1")},
         |a2 AS ${assignSql("c2")},
         |dup AS (SELECT b.vec_id AS vid, MIN(a.vec_id) AS dup_of
         |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE list_dot_product(ea.v, eb.v) /
         |        sqrt(list_dot_product(ea.v, ea.v) * list_dot_product(eb.v, eb.v)) >= 0.45
         |  GROUP BY 1)
         |SELECT a2.vec_id, a2.cid AS cluster,
         |  dup.dup_of IS NOT NULL AS is_semdup, dup.dup_of
         |FROM a2 LEFT JOIN dup ON dup.vid = a2.vec_id
         |ORDER BY a2.vec_id""".stripMargin,
    "q98_bloom_join" ->
      """SELECT c.c_custkey, c.c_name, COUNT(*) AS order_count,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q99_domain_cap" ->
      s"""WITH s AS (
         |  SELECT doc_id, source, lang, $qualitySql AS quality FROM documents),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY quality DESC, doc_id) AS INTEGER)
         |  AS rank_in_source FROM s)
         |SELECT source, rank_in_source, doc_id, lang, quality
         |FROM r WHERE rank_in_source <= 10
         |ORDER BY source, rank_in_source""".stripMargin,
    "q101_pq_ann" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |cent AS (SELECT ROW_NUMBER() OVER (
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k, v
         |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |sub AS (SELECT c.k, j.j, c.v[j.j*16+1 : j.j*16+16] AS cv,
         |    list_dot_product(c.v[j.j*16+1 : j.j*16+16],
         |                     c.v[j.j*16+1 : j.j*16+16]) AS cn2
         |  FROM cent c, generate_series(0, 3) j(j)),
         |codes AS (SELECT vec_id, j, k AS code FROM (
         |  SELECT e.vec_id, s.j, s.k,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.j
         |      ORDER BY s.cn2 - 2 * list_dot_product(e.v[s.j*16+1 : s.j*16+16], s.cv),
         |        s.k) rn
         |  FROM e, sub s) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % 10 = 0),
         |dt AS (SELECT q.query_id, s.j, s.k,
         |    CAST(list_dot_product(q.v[s.j*16+1 : s.j*16+16], q.v[s.j*16+1 : s.j*16+16])
         |      - 2 * list_dot_product(q.v[s.j*16+1 : s.j*16+16], s.cv)
         |      + s.cn2 AS BIGINT) AS d
         |  FROM q, sub s),
         |scored AS (SELECT dt.query_id, c.vec_id, CAST(SUM(dt.d) AS BIGINT) AS approx_dist
         |  FROM codes c JOIN dt ON dt.j = c.j AND dt.k = c.code
         |  WHERE c.vec_id != dt.query_id GROUP BY 1, 2),
         |short AS (SELECT query_id, vec_id, approx_dist FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY approx_dist, vec_id) AS arank
         |  FROM scored) WHERE arank <= 50),
         |rr AS (SELECT s.query_id, s.vec_id, s.approx_dist,
         |    CAST(list_dot_product(cv.v, cv.v)
         |      - 2 * list_dot_product(cv.v, qv.v)
         |      + list_dot_product(qv.v, qv.v) AS BIGINT) AS l2_dist
         |  FROM short s
         |  JOIN e cv ON cv.vec_id = s.vec_id
         |  JOIN e qv ON qv.vec_id = s.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, l2_dist, approx_dist
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY l2_dist, vec_id) AS rank
         |  FROM rr) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q112_hybrid_rrf" ->
      s"""WITH d AS (SELECT doc_id,
         |    list_distinct(regexp_split_to_array(lower(trim(text)), ' +')) AS toks
         |  FROM documents),
         |e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |q AS (SELECT doc_id AS query_id, toks AS qtoks FROM d
         |      WHERE doc_id % 100 = 0),
         |qv2 AS (SELECT vec_id AS query_id, v AS qv FROM e
         |      WHERE vec_id % 100 = 0),
         |post AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         |rare AS (SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM post GROUP BY tok)
         |         WHERE df <= (SELECT GREATEST(1, COUNT(*)//10) FROM d)),
         |postf AS (SELECT p.doc_id, p.tok FROM post p JOIN rare r ON r.tok = p.tok),
         |qpost AS (SELECT doc_id AS query_id, tok FROM post WHERE doc_id % 100 = 0),
         |lex AS (SELECT * FROM (
         |  SELECT query_id, doc_id, overlap, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY overlap DESC, doc_id) AS lex_rank
         |  FROM (SELECT qp.query_id, p.doc_id, CAST(COUNT(*) AS INTEGER) AS overlap
         |        FROM qpost qp JOIN postf p ON p.tok = qp.tok
         |        WHERE p.doc_id != qp.query_id GROUP BY 1, 2))
         |  WHERE lex_rank <= 50),
         |vec AS (SELECT * FROM (
         |  SELECT query_id, doc_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY dot DESC, doc_id) AS vec_rank
         |  FROM (SELECT qv2.query_id, e.vec_id AS doc_id,
         |          CAST(list_dot_product(e.v, qv2.qv) AS BIGINT) AS dot
         |        FROM qv2, e WHERE e.vec_id != qv2.query_id))
         |  WHERE vec_rank <= 50),
         |f AS (SELECT l.query_id, l.doc_id, l.overlap, l.lex_rank, v.vec_rank,
         |    CAST(1.0 AS DOUBLE)/(60 + l.lex_rank) +
         |      CAST(1.0 AS DOUBLE)/(60 + v.vec_rank) AS rrf_score
         |  FROM lex l JOIN vec v
         |    ON v.query_id = l.query_id AND v.doc_id = l.doc_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, overlap,
         |  CAST(lex_rank AS INTEGER) AS lex_rank,
         |  CAST(vec_rank AS INTEGER) AS vec_rank, rrf_score
         |FROM (SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
         |  FROM f) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q111_funnel_ann" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |bcodes AS (SELECT vec_id,
         |    CAST(list_sum(list_transform(generate_series(1, 32), j ->
         |      CASE WHEN v[j] > 0 THEN (CAST(1 AS BIGINT) << (j - 1))
         |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS b0,
         |    CAST(list_sum(list_transform(generate_series(1, 32), j ->
         |      CASE WHEN v[j + 32] > 0 THEN (CAST(1 AS BIGINT) << (j - 1))
         |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS b1
         |  FROM e),
         |bq AS (SELECT vec_id AS query_id, b0 AS q0, b1 AS q1 FROM bcodes
         |       WHERE vec_id % 10 = 0),
         |hs AS (SELECT bq.query_id, c.vec_id,
         |    CAST(bit_count(xor(c.b0, bq.q0)) + bit_count(xor(c.b1, bq.q1))
         |      AS BIGINT) AS hamming
         |  FROM bq, bcodes c WHERE c.vec_id != bq.query_id),
         |hshort AS (SELECT query_id, vec_id, hamming FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY hamming, vec_id) AS hrank
         |  FROM hs) WHERE hrank <= 150),
         |cent AS (SELECT ROW_NUMBER() OVER (
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k, v
         |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
         |sub AS (SELECT c.k, j.j, c.v[j.j*8+1 : j.j*8+8] AS cv,
         |    list_dot_product(c.v[j.j*8+1 : j.j*8+8],
         |                     c.v[j.j*8+1 : j.j*8+8]) AS cn2
         |  FROM cent c, generate_series(0, 7) j(j)),
         |codes AS (SELECT vec_id, j, k AS code FROM (
         |  SELECT e.vec_id, s.j, s.k,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.j
         |      ORDER BY s.cn2 - 2 * list_dot_product(e.v[s.j*8+1 : s.j*8+8], s.cv),
         |        s.k) rn
         |  FROM e, sub s) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % 10 = 0),
         |dt AS (SELECT q.query_id, s.j, s.k,
         |    CAST(list_dot_product(q.v[s.j*8+1 : s.j*8+8], q.v[s.j*8+1 : s.j*8+8])
         |      - 2 * list_dot_product(q.v[s.j*8+1 : s.j*8+8], s.cv)
         |      + s.cn2 AS BIGINT) AS d
         |  FROM q, sub s),
         |scored AS (SELECT h.query_id, h.vec_id, h.hamming,
         |    CAST(SUM(dt.d) AS BIGINT) AS approx_dist
         |  FROM hshort h
         |  JOIN codes c ON c.vec_id = h.vec_id
         |  JOIN dt ON dt.query_id = h.query_id AND dt.j = c.j AND dt.k = c.code
         |  GROUP BY 1, 2, 3),
         |ashort AS (SELECT query_id, vec_id, hamming, approx_dist FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY approx_dist, vec_id) AS arank
         |  FROM scored) WHERE arank <= 50),
         |rr AS (SELECT s.query_id, s.vec_id, s.hamming, s.approx_dist,
         |    CAST(list_dot_product(cv.v, qv.v) /
         |      sqrt(list_dot_product(qv.v, qv.v) * list_dot_product(cv.v, cv.v))
         |      AS DOUBLE) AS cosine
         |  FROM ashort s
         |  JOIN e cv ON cv.vec_id = s.vec_id
         |  JOIN e qv ON qv.vec_id = s.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine,
         |  hamming, approx_dist
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM rr) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q103_truncated_ann" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % 10 = 0),
         |hs AS (SELECT q.query_id, c.vec_id,
         |    CAST(list_dot_product(c.v[1:16], q.v[1:16]) /
         |      sqrt(list_dot_product(q.v[1:16], q.v[1:16]) *
         |           list_dot_product(c.v[1:16], c.v[1:16])) AS DOUBLE) AS head_cosine
         |  FROM q, e c WHERE c.vec_id != q.query_id
         |    AND list_dot_product(c.v[1:16], c.v[1:16]) > 0
         |    AND list_dot_product(q.v[1:16], q.v[1:16]) > 0),
         |short AS (SELECT query_id, vec_id, head_cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY head_cosine DESC, vec_id) AS hrank
         |  FROM hs) WHERE hrank <= 50),
         |rr AS (SELECT s.query_id, s.vec_id, s.head_cosine,
         |    CAST(list_dot_product(cv.v, qv.v) /
         |      sqrt(list_dot_product(qv.v, qv.v) * list_dot_product(cv.v, cv.v))
         |      AS DOUBLE) AS cosine
         |  FROM short s
         |  JOIN e cv ON cv.vec_id = s.vec_id
         |  JOIN e qv ON qv.vec_id = s.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine, head_cosine
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM rr) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q110_binary_ann" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |codes AS (SELECT vec_id,
         |    CAST(list_sum(list_transform(generate_series(1, 32), j ->
         |      CASE WHEN v[j] > 0 THEN (CAST(1 AS BIGINT) << (j - 1))
         |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS b0,
         |    CAST(list_sum(list_transform(generate_series(1, 32), j ->
         |      CASE WHEN v[j + 32] > 0 THEN (CAST(1 AS BIGINT) << (j - 1))
         |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS b1
         |  FROM e),
         |q AS (SELECT vec_id AS query_id, b0 AS q0, b1 AS q1 FROM codes
         |      WHERE vec_id % 10 = 0),
         |hs AS (SELECT q.query_id, c.vec_id,
         |    CAST(bit_count(xor(c.b0, q.q0)) + bit_count(xor(c.b1, q.q1))
         |      AS BIGINT) AS hamming
         |  FROM q, codes c WHERE c.vec_id != q.query_id),
         |short AS (SELECT query_id, vec_id, hamming FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY hamming, vec_id) AS hrank
         |  FROM hs) WHERE hrank <= 50),
         |rr AS (SELECT s.query_id, s.vec_id, s.hamming,
         |    CAST(list_dot_product(cv.v, qv.v) /
         |      sqrt(list_dot_product(qv.v, qv.v) * list_dot_product(cv.v, cv.v))
         |      AS DOUBLE) AS cosine
         |  FROM short s
         |  JOIN e cv ON cv.vec_id = s.vec_id
         |  JOIN e qv ON qv.vec_id = s.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine, hamming
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM rr) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q109_embedding_drift" ->
      s"""WITH e AS (SELECT label, CAST(vec_id % 2 AS INTEGER) AS half, $qv AS v
         |  FROM embeddings),
         |sums AS (
         |  SELECT label, half, s.i, SUM(v[s.i]) AS s
         |  FROM e, generate_series(1, 64) s(i) GROUP BY 1, 2, 3),
         |cent AS (
         |  SELECT label, half, list(s ORDER BY i) AS cv FROM sums GROUP BY 1, 2),
         |cnt AS (SELECT label, half, COUNT(*) AS n FROM e GROUP BY 1, 2)
         |SELECT a.label, ca.n AS n_first, cb.n AS n_second,
         |  CAST(list_dot_product(a.cv, b.cv) /
         |    sqrt(list_dot_product(a.cv, a.cv) * list_dot_product(b.cv, b.cv))
         |    AS DOUBLE) AS centroid_cosine,
         |  CAST(list_dot_product(a.cv, b.cv) /
         |    sqrt(list_dot_product(a.cv, a.cv) * list_dot_product(b.cv, b.cv))
         |    AS DOUBLE) < 0.5 AS is_drifted
         |FROM cent a
         |JOIN cent b ON a.label = b.label AND a.half = 0 AND b.half = 1
         |JOIN cnt ca ON ca.label = a.label AND ca.half = 0
         |JOIN cnt cb ON cb.label = b.label AND cb.half = 1
         |ORDER BY a.label""".stripMargin,
    // NOTE: no struct-typed list_reduce accumulator here — DuckDB
    // 1.0.0 aliases the accumulator in place, so a later struct field
    // reads an earlier field's ALREADY-UPDATED value (observed via a
    // string-trace probe). The spike count therefore recomputes the
    // prefix EWMA per position with scalar folds (n ≤ 31 days, so the
    // quadratic rescan is trivial and the doubles are the identical
    // fold the Spark side runs).
    "q106_ewma_spikes" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |arr AS (
        |  SELECT user_id, list(CAST(cnt AS DOUBLE) ORDER BY day) AS l
        |  FROM daily GROUP BY 1)
        |SELECT user_id, CAST(len(l) AS INTEGER) AS n_days,
        |  CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), l),
        |    (a, b) -> a * 0.5 + b * 0.5) AS DOUBLE) AS ewma_final,
        |  CAST(len(list_filter(range(2, len(l) + 1), j ->
        |    l[j] > 2.0 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE), l[1:j-1]),
        |      (a, b) -> a * 0.5 + b * 0.5))) AS INTEGER) AS spike_days
        |FROM arr ORDER BY user_id""".stripMargin,
    "q105_curation_pipeline" ->
      s"""WITH RECURSIVE ${DedupOps.tokHashCte},
         |${DedupOps.shinglesCte},
         |${DedupOps.sigBandedCtes},
         |keep0 AS (
         |  SELECT MIN(doc_id) AS doc_id FROM (
         |    SELECT doc_id, ${DedupOps.fingerprintSql} AS fp
         |    FROM documents) GROUP BY fp),
         |cpairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM keep0)
         |    AND b.doc_id IN (SELECT doc_id FROM keep0)),
         |${DedupOps.ccReachCtes},
         |${DedupOps.ccLosersCte},
         |d3 AS (
         |  SELECT doc_id, source, lang, $qualitySql AS quality, text
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM keep0)
         |    AND doc_id NOT IN (SELECT id FROM losers)),
         |d4 AS (
         |  SELECT doc_id, source, lang, quality, text FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
         |    FROM d3 WHERE quality >= 0.5) WHERE rk <= 20),
         |t AS (
         |  SELECT doc_id, source, lang, quality,
         |    CAST(len(regexp_split_to_array(lower(trim(text)), ' +')) AS BIGINT)
         |      AS token_count
         |  FROM d4)
         |SELECT doc_id, source, lang, quality, token_count,
         |  CAST(floor((SUM(token_count) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - token_count) / 2000)
         |    AS BIGINT) AS shard_id
         |FROM t ORDER BY doc_id""".stripMargin,
    "q104_token_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), ' +') AS toks FROM documents),
        |st AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS s FROM t)
        |SELECT doc_id, CAST(s // 24 AS INTEGER) AS chunk_id,
        |  CAST(s AS INTEGER) AS token_start,
        |  CAST(least(32, len(toks) - s) AS INTEGER) AS n_tokens,
        |  array_to_string(toks[s+1 : s+32], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    "q102_mixture_sample" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_source FROM documents GROUP BY 1),
        |mx AS (SELECT MAX(n_source) AS mx FROM c),
        |r AS (SELECT source, n_source,
        |    CAST(least(sqrt(CAST(mx.mx AS DOUBLE) / CAST(n_source AS DOUBLE)), 1.0)
        |      AS DOUBLE) AS rate
        |  FROM c, mx)
        |SELECT d.doc_id, d.source, d.lang, r.n_source, r.rate
        |FROM documents d JOIN r USING (source)
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT)
        |      / 281474976710656.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    "q237_dup_span_removal" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), ' +') AS toks FROM documents),
        |g AS (SELECT doc_id, i AS start, array_to_string(toks[i:i+7], ' ') AS gram
        |      FROM t, unnest(range(1, greatest(len(toks) - 6, 1))) AS r(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT g.doc_id, g.start + o AS pos
        |        FROM g JOIN dup USING (gram), unnest(range(0, 8)) AS u(o)),
        |tk AS (SELECT doc_id, i AS pos, toks[i] AS token
        |       FROM t, unnest(range(1, len(toks) + 1)) AS r(i)
        |       WHERE toks[i] <> ''),
        |kept AS (SELECT tk.doc_id, COUNT(*) AS kept_tokens,
        |         string_agg(tk.token, ' ' ORDER BY tk.pos) AS clean_text
        |         FROM tk
        |         WHERE NOT EXISTS (SELECT 1 FROM cov
        |           WHERE cov.doc_id = tk.doc_id AND cov.pos = tk.pos)
        |         GROUP BY tk.doc_id),
        |tot AS (SELECT doc_id,
        |        CAST(len(list_filter(toks, x -> x <> '')) AS BIGINT) AS total_tokens
        |        FROM t)
        |SELECT tot.doc_id, tot.total_tokens,
        |  CAST(COALESCE(kept.kept_tokens, 0) AS BIGINT) AS kept_tokens,
        |  CAST(tot.total_tokens - COALESCE(kept.kept_tokens, 0) AS BIGINT)
        |    AS removed_tokens,
        |  md5(COALESCE(kept.clean_text, '')) AS clean_md5
        |FROM tot LEFT JOIN kept USING (doc_id)
        |ORDER BY tot.doc_id""".stripMargin,
    "q250_suffix_panel" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 240) AS t FROM documents),
        |sfx AS (SELECT doc_id, i - 1 AS pos, substr(t, i) AS sfx
        |        FROM d, unnest(range(1, length(t) + 1)) AS r(i)),
        |ord AS (SELECT *, ROW_NUMBER() OVER (ORDER BY sfx, doc_id, pos) AS gi
        |        FROM sfx),
        |pairs AS (SELECT a.doc_id AS doc_a, a.pos AS pos_a,
        |    b.doc_id AS doc_b, b.pos AS pos_b, a.sfx AS sa, b.sfx AS sb
        |  FROM ord a JOIN ord b ON b.gi = a.gi + 1),
        |l AS (SELECT doc_a, pos_a, doc_b, pos_b,
        |    COALESCE(list_aggregate(list_transform(
        |      range(1, least(length(sa), length(sb)) + 1),
        |      k -> CASE WHEN substr(sa, 1, k) = substr(sb, 1, k)
        |           THEN k ELSE 0 END), 'max'), 0) AS lcp, sa
        |  FROM pairs)
        |SELECT doc_a, CAST(pos_a AS BIGINT) AS pos_a, doc_b,
        |  CAST(pos_b AS BIGINT) AS pos_b, CAST(lcp AS BIGINT) AS lcp,
        |  doc_a <> doc_b AS cross_doc,
        |  substr(sa, 1, least(lcp, 32)) AS snippet
        |FROM l ORDER BY lcp DESC, doc_a, pos_a LIMIT 20""".stripMargin,
    "q100_dup_spans" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), ' +') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 6, 1)),
        |        i -> array_to_string(toks[i:i+7], ' '))) AS gram FROM t),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        |tot AS (SELECT doc_id, COUNT(*) AS total_spans FROM g GROUP BY doc_id),
        |dsp AS (SELECT g.doc_id, COUNT(*) AS dup_spans
        |        FROM g JOIN dup USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(tot.total_spans, 0) AS total_spans,
        |  COALESCE(dsp.dup_spans, 0) AS dup_spans,
        |  CAST(CASE WHEN COALESCE(tot.total_spans, 0) > 0
        |    THEN CAST(COALESCE(dsp.dup_spans, 0) AS DOUBLE) / CAST(tot.total_spans AS DOUBLE)
        |    ELSE 0.0 END AS DOUBLE) AS dup_ratio
        |FROM documents d
        |LEFT JOIN tot ON tot.doc_id = d.doc_id
        |LEFT JOIN dsp ON dsp.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q230_ivf_lloyd_auto" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |c0x AS (SELECT vec_id AS cid, v AS cv FROM (
         |    SELECT vec_id, v, ROW_NUMBER() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crn FROM e)
         |  WHERE crn <= (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)),
         |a0x AS ${assignSql("c0x")},
         |c1x AS ${updateSql("a0x")},
         |a1x AS ${assignSql("c1x")},
         |c2x AS ${updateSql("a1x")},
         |assign AS ${assignSql("c2x")},
         |probe AS (
         |  SELECT query_id, cid FROM (
         |    SELECT q.vec_id AS query_id, c.cid, ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.cv) /
         |               sqrt(list_dot_product(c.cv, c.cv)) DESC, c.cid) AS rn
         |    FROM e q, c2x c WHERE q.vec_id % 10 = 0) WHERE rn <= 4),
         |cand AS (SELECT p.query_id, a.vec_id
         |  FROM probe p JOIN assign a ON a.cid = p.cid
         |  WHERE a.vec_id != p.query_id),
         |scored AS (SELECT cand.query_id, cand.vec_id,
         |    CAST(list_dot_product(cv.v, qv2.v) /
         |      sqrt(list_dot_product(qv2.v, qv2.v) * list_dot_product(cv.v, cv.v))
         |      AS DOUBLE) AS cosine
         |  FROM cand
         |  JOIN e cv ON cv.vec_id = cand.vec_id
         |  JOIN e qv2 ON qv2.vec_id = cand.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
  )

  val oracles: Map[String, String] = oraclesFixed + ("q229_ivfadc_auto" -> {
    // q229 IS q127 with the coarse codebook scaled to ⌈√n⌉: derive
    // its oracle from q127's verbatim, swapping only the cent CTE for
    // the dynamic COUNT(*)-driven form (same derivation-not-duplication
    // pattern as q216 sharing q75's oracle). The replace is guarded so
    // an edit to q127's oracle that breaks the anchor fails loudly at
    // class-init (RegistrySpec would catch it) instead of silently
    // shipping a stale q229 oracle.
    val fixed =
      """cent AS (SELECT vec_id AS cid, v FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),""".stripMargin
    val auto =
      """cent AS (SELECT vec_id AS cid, v FROM (
        |    SELECT vec_id, v, ROW_NUMBER() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crn FROM e)
        |  WHERE crn <= (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)),""".stripMargin
    val base = oraclesFixed("q127_ivfpq_residual")
    require(base.contains(fixed), "q127 oracle cent CTE anchor moved — update q229's derivation")
    base.replace(fixed, auto)
  })
}
