package graft.queries

import graft.Tables
import graft.Tables.documents
import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM training-data pipelines:
  * token-budget shard packing, train/test contamination detection,
  * PII scrubbing, repetition metrics. All oracle-checked.
  */
object CurationOps {

  type Q = (SparkSession, String) => DataFrame

  /** Sequential token-budget packing: assign documents (in stable
    * doc_id order) to training shards of ~2000 tokens via a global
    * running sum. The running sum is the two-phase distributed
    * prefix sum (operators.PrefixSum) — per-partition subtotals →
    * broadcast offsets → partition-local scan — NOT an unpartitioned
    * window, so no single task ever sees the whole corpus. The DuckDB
    * oracle keeps the windowed formulation as the spec. */
  def q59TokenPacking(s: SparkSession, dir: String): DataFrame = {
    val budget = 2000L
    val counted = documents(s, dir)
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("bigint").as("token_count"))
    graft.operators.PrefixSum
      .withRunningSum(counted, "doc_id", "token_count", "cum_tokens")
      .withColumn("shard_id",
        floor((col("cum_tokens") - col("token_count")) / budget).cast("bigint"))
      .orderBy("doc_id")
  }

  /** Train/test contamination: flag training documents whose unigram
    * Jaccard against ANY held-out doc (doc_id % 20 = 0) reaches 0.9,
    * or whose canonical fingerprint matches exactly.
    *
    * Scale plan — NO train×test cross join anywhere:
    *  - exact matches: fingerprint equi-join (left semi), shuffles
    *    32-byte keys only;
    *  - near matches: AllPairs/PPJoin prefix filtering, which is
    *    LOSSLESS at threshold t: J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A|, so a
    *    qualifying pair must share a token among the first
    *    |A| − ⌈t·|A|⌉ + 1 tokens of each side's lexicographically
    *    sorted set. At t = 0.9 the prefix is ~10% of each doc; the
    *    candidate join is a bounded-key equi-join on prefix tokens
    *    (plus the |B| ∈ [t·|A|, |A|/t] length filter), then exact
    *    Jaccard verifies candidates. Same answer as the full scan —
    *    the DuckDB oracle IS the full scan.
    */
  def q63Contamination(s: SparkSession, dir: String): DataFrame = {
    val t = 0.9
    // this tokenize+fingerprint projection is consumed by five
    // subtrees, each re-running it map-side (a persist was tried and
    // measured a small LOSS — the columnar cache encode of the
    // token/prefix arrays costs more than the recompute; r13 re-tried
    // sharing via localCheckpoint — serialized row blocks instead of
    // columnar encode — and measured a wash, 4.49 vs 4.42 s at
    // sf0.1/32c: any materialization of the wide token arrays costs
    // what it saves. VERDICT r12 item 5 closed as a measured rejection)
    val d = documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        sort_array(array_distinct(TextAnalysis.tokens(col("text")))).as("toks"))
      .withColumn("sz", size(col("toks")))
      .withColumn("prefix",
        slice(col("toks"), lit(1), (col("sz") - ceil(lit(t) * col("sz")) + 1).cast("int")))
    val test = d.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("test_doc_id"), col("fp").as("test_fp"),
        col("toks").as("test_toks"), col("sz").as("test_sz"),
        col("prefix").as("test_prefix"))
    val train = d.filter(col("doc_id") % 20 =!= 0)
    // exact: 32-byte fingerprint equi-join, semi semantics
    val exactIds = train.join(test, col("fp") === col("test_fp"), "left_semi")
      .select(col("doc_id"))
      .withColumn("has_exact", lit(1L))
    // near: prefix-token candidates → exact-Jaccard verify
    val trainPref = train.select(col("doc_id"), col("sz"),
      explode(col("prefix")).as("ptok"))
    val testPref = test.select(col("test_doc_id"), col("test_sz"),
      explode(col("test_prefix")).as("ptok"))
    val candIds = trainPref.join(testPref, Seq("ptok"))
      .filter(col("test_sz") >= ceil(lit(t) * col("sz")) &&
        col("test_sz") <= floor(col("sz") / t))
      .select("doc_id", "test_doc_id").distinct()
    val nearIds = candIds
      .join(train.select(col("doc_id"), col("toks"), col("sz")), "doc_id")
      .join(test.select(col("test_doc_id"), col("test_toks"), col("test_sz")), "test_doc_id")
      .withColumn("inter", size(array_intersect(col("toks"), col("test_toks"))))
      .filter(col("inter").cast("double") /
        (col("sz") + col("test_sz") - col("inter")) >= t)
      .select(col("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    train.select(col("doc_id"))
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("has_exact"), lit(0L)).as("has_exact_match"),
        (coalesce(col("has_exact"), lit(0L)) === 1 ||
          coalesce(col("is_near"), lit(false))).as("is_contaminated"))
      .orderBy("doc_id")
  }

  /** PII scrubbing: mask emails and phone-shaped tokens in one pass
    * of codegen'd regexp_replace (PII synthesized deterministically
    * onto the docs so the scrubber has real targets). */
  def q64PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val withPii = documents(s, dir)
      .withColumn("dirty",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or +1-555-000"), col("doc_id"), lit(" now")))
    val scrubbed = regexp_replace(
      regexp_replace(col("dirty"), "[A-Za-z0-9._]+@[A-Za-z0-9.]+", "<EMAIL>"),
      "\\+[0-9][0-9-]{6,}", "<PHONE>")
    withPii.select(
        col("doc_id"),
        length(col("dirty")).as("dirty_len"),
        scrubbed.as("scrubbed"))
      .withColumn("scrubbed_len", length(col("scrubbed")))
      .withColumn("has_residual_email", col("scrubbed").rlike("@"))
      .select("doc_id", "dirty_len", "scrubbed_len", "has_residual_email", "scrubbed")
      .orderBy("doc_id")
  }

  /** Repetition metrics: distinct-token ratio and dominant token
    * share — the cheap repetitive-document filter. */
  def q65Repetition(s: SparkSession, dir: String): DataFrame = {
    val terms = documents(s, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).cast("bigint").as("total_tokens"),
        explode(col("_toks")).as("term"))
    val tf = terms.groupBy("doc_id", "total_tokens", "term")
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("doc_id").orderBy(col("tf").desc, col("term").asc)
    tf.withColumn("rank", row_number().over(w))
      .withColumn("distinct_tokens", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rank") === 1)
      .select(
        col("doc_id"), col("total_tokens"),
        col("distinct_tokens").cast("bigint").as("distinct_tokens"),
        (col("distinct_tokens").cast("double") / col("total_tokens")).cast("double")
          .as("distinct_ratio"),
        col("term").as("top_token"), col("tf").as("top_token_count"),
        (col("tf").cast("double") / col("total_tokens")).cast("double")
          .as("top_token_share"))
      .withColumn("is_repetitive",
        col("distinct_ratio") < 0.3 || col("top_token_share") > 0.2)
      .orderBy("doc_id")
  }

  /** Stratified deterministic sampling: cap each language stratum at
    * the N docs with the smallest md5(doc_id) — the balanced-mixture
    * primitive (equal per-language quotas regardless of corpus skew).
    * Per-stratum rank plans as WindowGroupLimit: each task pre-trims
    * to N before the stratum shuffle, so the exchange carries
    * O(strata × N) rows, not the corpus. */
  def q78StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val cap = 30
    val w = Window.partitionBy("lang").orderBy(col("sample_key"), col("doc_id"))
    documents(s, dir)
      .withColumn("sample_key", md5(col("doc_id").cast("string")))
      .withColumn("stratum_rank", row_number().over(w))
      .filter(col("stratum_rank") <= cap)
      .select(col("doc_id"), col("lang"), col("sample_key"), col("stratum_rank"))
      .orderBy("lang", "stratum_rank")
  }

  /** Quality-weighted deterministic sampling: keep a document iff
    * frac(md5(doc_id)) < its quality score, so inclusion probability
    * equals quality — the importance-sampling curation step
    * (upsample clean text) with no RNG state: any engine reproduces
    * the exact sample. frac uses the first 12 hex digits (exact in
    * doubles cross-engine, same trick as the KMV estimator). */
  def q79WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val frac = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
      .cast("double") / lit(math.pow(16.0, 12.0))
    documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality_score"),
        frac.as("sample_frac"))
      .filter(col("sample_frac") < col("quality_score"))
      .orderBy("doc_id")
  }

  /** Exact proportional quota apportionment (largest-remainder /
    * Hamilton method): allocate a FIXED total budget of documents
    * across sources proportionally to their sizes — floor shares
    * first, then the leftover seats go to the largest fractional
    * remainders — so the picks sum to EXACTLY the budget (q102's
    * temperature mixture is the probabilistic cousin; this is the
    * deterministic "give me exactly N docs" contract). All
    * apportionment math is integer (DIV/MOD) — no float shares to
    * disagree across engines. The per-source pick is the q78 idiom
    * (rank by md5(doc_id) within source); the literal budget bound
    * keeps that window a WindowGroupLimit, and the apportionment
    * windows/crosses run over the |sources|-row aggregate, never the
    * corpus. */
  def q124QuotaApportion(s: SparkSession, dir: String): DataFrame = {
    val budget = 200L
    val d = documents(s, dir).select(col("doc_id"), col("source"),
      md5(col("doc_id").cast("string")).as("sample_key"))
    val counts = d.groupBy("source").agg(count(lit(1)).as("n"))
    val shares = counts.crossJoin(counts.agg(sum(col("n")).as("total")))
      .withColumn("base", expr(s"($budget * n) DIV total"))
      .withColumn("rem", expr(s"($budget * n) % total"))
    val ranked = shares.withColumn("rk",
      row_number().over(Window.orderBy(col("rem").desc, col("source"))))
    val alloc = ranked
      .crossJoin(ranked.agg((lit(budget) - sum(col("base"))).as("leftover")))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select("source", "alloc")
    val wp = Window.partitionBy("source").orderBy(col("sample_key"), col("doc_id"))
    d.join(broadcast(alloc), "source")
      .withColumn("pick_rank", row_number().over(wp))
      .filter(col("pick_rank") <= budget && col("pick_rank") <= col("alloc"))
      .select(col("doc_id"), col("source"), col("alloc"), col("pick_rank"))
      .orderBy("source", "pick_rank")
  }

  /** Priority sampling (Duffield–Lund–Thorup 2007): weighted sampling
    * WITHOUT replacement with an unbiased subset-sum estimator —
    * priority = weight / u with u a deterministic md5 uniform, keep
    * the top-k priorities per source, and estimate each kept item's
    * weight as max(weight, τ) where τ is the (k+1)-th priority. The
    * E-S exponential-race scheme needs ln(u) (transcendental — not
    * bit-reproducible across engines); priority sampling's key is a
    * single exact DOUBLE division of integers, so any engine
    * reproduces the identical sample AND the identical estimates.
    * Per-source top-k is a WindowGroupLimit (no global sort); at any
    * corpus size the only shuffle is the source-keyed rank. */
  def q131PrioritySample(s: SparkSession, dir: String): DataFrame = {
    val k = 25
    // u in (0,1]: +1 on the 48-bit md5 prefix avoids u=0 (division
    // blow-up); all values exact in doubles
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
      .cast("double") + 1.0) / lit(math.pow(16.0, 12.0))
    val d = documents(s, dir)
      .select(col("doc_id"), col("source"),
        greatest(col("n_chars"), lit(1L)).as("weight"))
      .withColumn("priority", col("weight").cast("double") / u)
    val wp = Window.partitionBy("source")
      .orderBy(col("priority").desc, col("doc_id"))
    val ranked = d.withColumn("pick_rank", row_number().over(wp))
    val tau = ranked.filter(col("pick_rank") === k + 1)
      .select(col("source"), col("priority").as("tau"))
    ranked.filter(col("pick_rank") <= k)
      .join(broadcast(tau), Seq("source"), "left")
      .select(col("source"), col("doc_id"), col("weight"), col("pick_rank"),
        greatest(col("weight").cast("double"), coalesce(col("tau"), lit(0.0)))
          .as("est_weight"))
      .orderBy("source", "pick_rank")
  }

  /** Systematic (every k-th) sampling per stratum in hash order:
    * order each language's docs by (md5(doc_id), doc_id) and keep
    * ranks 1, k+1, 2k+1, … with k = 10. Unlike q53's mod-hash
    * Bernoulli sample (binomially-sized), the systematic pick returns
    * EXACTLY ⌈n_s/k⌉ docs per stratum — quota-exact with no separate
    * quota pass — and the hash order decorrelates the pick from
    * ingest order. One window per stratum key; no global sort. */
  def q152SystematicSample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    documents(s, dir)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter((col("rn") - 1) % 10 === 0)
      .withColumn("sample_idx", expr("CAST((rn - 1) DIV 10 AS BIGINT)"))
      .select("lang", "doc_id", "sample_idx")
      .orderBy("lang", "sample_idx")
  }

  /** Deterministic EPOCH SHUFFLE + shard packing (q59's training-prep
    * sibling): each epoch orders the corpus by an md5 permutation key
    * (seeded by the epoch number — reproducible end to end, the
    * property a resumable 100 TB training job needs), then packs the
    * shuffled order into ~2000-token shards with the same two-phase
    * distributed prefix sum as q59 (no unpartitioned window
    * anywhere; per-shard positions are keyed row_numbers). Two
    * epochs are packed and joined per-doc so the output also
    * witnesses that reshuffling actually moves documents between
    * shards (`moved`).
    */
  def q200EpochShards(s: SparkSession, dir: String): DataFrame = {
    val budget = 2000L
    val counted = documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("bigint").as("token_count"))
    def epochPack(epoch: Int): DataFrame = {
      val keyed = counted.withColumn("shuffle_key",
        md5(concat_ws(":", lit(epoch), col("doc_id"))))
      graft.operators.PrefixSum
        .withRunningSum(keyed, "shuffle_key", "token_count", "cum_tokens")
        .withColumn("shard",
          floor((col("cum_tokens") - col("token_count")) / budget).cast("bigint"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy("shuffle_key")))
        .select(col("doc_id"), col("token_count"),
          col("shard").as(s"shard_epoch$epoch"),
          col("pos").as(s"pos_epoch$epoch"))
    }
    epochPack(0).join(epochPack(1).drop("token_count"), "doc_id")
      .withColumn("moved", col("shard_epoch0") =!= col("shard_epoch1"))
      .orderBy("doc_id")
  }

  /** q240 — fixed-context SEQUENCE PACKING: the step AFTER q200's
    * shard assignment — the shuffled corpus is one long token stream
    * cut at exact 512-token context boundaries (the padding-free
    * "packed sequences" layout every causal-LM pretraining run feeds
    * the trainer; docs that straddle a cut appear in two contexts,
    * which is why boundary-crossing fraction is a tracked data-prep
    * metric). Each doc's global token offset comes from the same
    * two-phase distributed prefix sum as q200 (md5-permuted order,
    * P per-partition subtotals to the driver — never a global sort),
    * and its start/end context ids are pure integer projections of
    * that offset. Scale: one shuffle by the permutation key; context
    * assignment adds zero further data movement at 100 TB. */
  def q240ContextPacking(s: SparkSession, dir: String): DataFrame = {
    val ctxLen = 512L
    val counted = documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("bigint").as("token_count"))
      .withColumn("shuffle_key", md5(concat_ws(":", lit("ctx"), col("doc_id"))))
    graft.operators.PrefixSum
      .withRunningSum(counted, "shuffle_key", "token_count", "cum_tokens")
      .select(col("doc_id"), col("token_count"),
        (col("cum_tokens") - col("token_count")).as("offset"),
        expr(s"(cum_tokens - token_count) DIV $ctxLen").as("ctx_start"),
        expr(s"(cum_tokens - 1) DIV $ctxLen").as("ctx_end"))
      .withColumn("crosses", col("ctx_end") > col("ctx_start"))
      .orderBy("doc_id")
  }

  /** q242 — the PRIVACY-SAFE RELEASE pipeline: rule gate → PII scrub
    * → exact dedup OF THE MASKED TEXT → fixed-context packing, one
    * lazy plan end to end. This is the composition a corpus release
    * actually runs in this order and no other: masking must precede
    * persistence (nothing raw may outlive the gate), and dedup must
    * run on what SHIPS — two raw docs differing only inside a masked
    * span are one released document, which dedup-before-scrub would
    * miss. Stages are the certified kernels verbatim (q212 rules,
    * q236 mask cascade, q45 canonical fingerprint with the W1
    * deterministic survivor, q240 prefix-sum packing); the
    * composition adds one window and one running sum — no new
    * shuffle classes. Complements q105/q214/q225, which compose the
    * dedup/sampling decision layer; this is the privacy/packaging
    * layer. */
  def q242ReleasePipeline(s: SparkSession, dir: String): DataFrame = {
    // stage 1: rule gate (q212 kernel, survivors only). The
    // localCheckpoint is a PUSHDOWN BARRIER, not a convenience:
    // filtering directly on `kept` lets PushPredicateThroughNonJoin
    // inline the alias chain into the predicate — including the
    // token split inside the gate's nested repetition lambdas, which
    // then re-tokenizes the document per array element (measured:
    // the bare gate projection runs ~4 s at sf1, the collapsed
    // filter 70 s). Materializing the annotated frame once keeps
    // `kept` an attribute; at 100 TB this stage is a staged table
    // anyway (the gate report IS a pipeline artifact, q212). */
    val gated = MixOps.withFilterRules(
        documents(s, dir).select(col("doc_id"), col("lang"),
          col("text")))
      .select(col("doc_id"), col("text"), col("kept"))
      .localCheckpoint()
      .filter(col("kept"))
      .select(col("doc_id"), col("text"))
    // stage 2: anonymize before anything else sees the text
    val scrubbed = gated
      .withColumn("masked", TextAnalysis.piiMask(col("text")))
    // stage 3: exact dedup of the RELEASED (masked) text, min-doc_id
    // survivor via the deterministic ordered window
    val wf = Window.partitionBy("fp").orderBy("doc_id")
    val released = scrubbed
      .withColumn("fp", TextAnalysis.fingerprint(col("masked")))
      .withColumn("rn", row_number().over(wf))
      .filter(col("rn") === 1)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("masked")).cast("bigint")
          .as("token_count"))
    // stage 4: 512-token context packing of the survivors (q240).
    // `released` is persisted across PrefixSum's THREE upstream reads
    // (range-boundary sampling, subtotal pass, phase-2 materialize) —
    // the q214/q238 lesson: without it every read replays the
    // gate's O(n²)-per-doc repetition HOFs and the mask cascade
    // (measured 31.7 s in-suite; ~3 s with the 2-column frame cached).
    // Safe to release right after withRunningSum returns: its phase 1
    // has already materialized the internal sorted persist that all
    // downstream reads consume.
    val rel = released.persist()
    try {
      val keyed = rel.withColumn("shuffle_key",
        md5(concat_ws(":", lit("rel"), col("doc_id"))))
      graft.operators.PrefixSum
        .withRunningSum(keyed, "shuffle_key", "token_count", "cum_tokens")
        .select(col("doc_id"), col("token_count"),
          (col("cum_tokens") - col("token_count")).as("offset"),
          expr("(cum_tokens - token_count) DIV 512").as("ctx_start"),
          expr("(cum_tokens - 1) DIV 512").as("ctx_end"))
        .withColumn("crosses", col("ctx_end") > col("ctx_start"))
        .orderBy("doc_id")
    } finally rel.unpersist(blocking = false)
  }

  /** q245 — the RELEASE DIFF between two corpus versions: the
    * changelog a dataset team ships when v(n+1) replaces v(n)
    * (Dolma's versioned releases, C4's variant family — every public
    * corpus publishes "docs added / removed / changed" between
    * versions). The two releases are derived deterministically from
    * the documents table (v1 missing one residue class, v2 missing
    * another and re-editing a third — the remove/add/edit mix a real
    * re-scrub produces); the diff is a full-outer join on the doc PK
    * with content identity decided by the canonical fingerprint, so
    * formatting noise is not a "change". Per status: doc count, net
    * token delta (added:+, removed:−, changed: edit delta,
    * unchanged: 0), and an order-invariant XOR checksum of 60-bit
    * md5(doc_id) prefixes — the auditable identity of each status
    * set. XOR, not q222's ordered-list md5: a per-status list is
    * CORPUS-sized for 'unchanged' (q222's lists are bounded by shard
    * budget), while the XOR folds in O(1) state, merges map-side,
    * and is partition-order independent — the only set digest that
    * stays exact AND bounded at 100 TB.
    *
    * Scale: fingerprints are scan-side expressions; the only
    * exchange is the doc_id-keyed full-outer join — both releases of
    * a 100 TB corpus are bucketed by the PK, so the join co-locates
    * without a shuffle; the status rollup is a 4-group aggregate. */
  def q245ReleaseDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    def leg(df: DataFrame, fp: String, tc: String) = df.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as(fp),
      TextAnalysis.tokenCount(col("text")).cast("bigint").as(tc))
    val v1 = leg(docs.filter(pmod(col("doc_id"), lit(17)) =!= 3), "fp1", "tc1")
    val v2 = leg(docs.filter(pmod(col("doc_id"), lit(23)) =!= 5)
      .withColumn("text", when(pmod(col("doc_id"), lit(11)) === 7,
        concat(col("text"), lit(" rev2"))).otherwise(col("text"))),
      "fp2", "tc2")
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp1").isNull, lit("added"))
          .when(col("fp2").isNull, lit("removed"))
          .when(col("fp1") =!= col("fp2"), lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("tc2"), lit(0L)) - coalesce(col("tc1"), lit(0L)))
          .as("token_delta"),
        bit_xor(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long")).as("ids_xor"))
      .orderBy("status")
  }

  /** q222 — the SHARD MANIFEST for q200's epoch-0 packing: one row
    * per shard with doc/token counts, the doc_id span, and an md5
    * content hash of the ordered doc_id list. This is the
    * reproducibility artifact a resumable 100 TB training job ships
    * next to its shards — shard membership is a pure function of
    * (epoch, corpus), so a restarted job re-derives the manifest and
    * any divergence (lost file, re-pack under a changed corpus)
    * surfaces as a hash mismatch on exactly the affected shards.
    * Scale: the same two-phase prefix sum as q200, then a shard-keyed
    * aggregate; the collect_list per shard is bounded by the token
    * budget (≈ budget/min-doc-tokens docs), never by corpus size. */
  def q222ShardManifest(s: SparkSession, dir: String): DataFrame = {
    val budget = 2000L
    val counted = documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("bigint").as("token_count"))
      .withColumn("shuffle_key", md5(concat_ws(":", lit(0), col("doc_id"))))
    graft.operators.PrefixSum
      .withRunningSum(counted, "shuffle_key", "token_count", "cum_tokens")
      .withColumn("shard_id",
        floor((col("cum_tokens") - col("token_count")) / budget).cast("bigint"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("token_count").as("n_tokens"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"),
        md5(array_join(transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("manifest_md5"))
      .orderBy("shard_id")
  }

  /** q223 — epoch-shuffle QUALITY audit over q200's two packings:
    * a reshuffle earns its cost only if it actually decorrelates
    * batches, so measure (a) the fraction of documents that changed
    * shards and (b) co-shard PAIR stability — of the doc pairs
    * sharing an epoch-0 shard, how many still share one in epoch 1.
    * For a sound permutation, pair stability ≈ E[1/#shards] (near
    * zero) and moved_frac ≈ 1; a broken shuffle key (e.g. hashing a
    * constant) sails through row-level checks but lights up both
    * numbers here. Scale: the pair join is keyed by epoch-0 shard
    * and each side of a shard is ≤ budget/min-doc-tokens docs, so
    * the pair fan-out is shards × O(shard_size²) — linear in corpus
    * size with a small constant, never corpus-quadratic. */
  def q223ShuffleStability(s: SparkSession, dir: String): DataFrame = {
    val packed = q200EpochShards(s, dir)
      .select(col("doc_id"), col("shard_epoch0").as("s0"),
        col("shard_epoch1").as("s1"))
      .persist()
    try {
    val base = packed.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("s0") =!= col("s1"), 1L).otherwise(0L)).as("n_moved"))
    val a = packed.select(col("doc_id").as("doc_a"), col("s0"),
      col("s1").as("e1a"))
    val b = packed.select(col("doc_id").as("doc_b"), col("s0"),
      col("s1").as("e1b"))
    val pairStats = a.join(b, "s0").filter(col("doc_a") < col("doc_b"))
      .agg(count(lit(1)).as("n_pairs_e0"),
        sum(when(col("e1a") === col("e1b"), 1L).otherwise(0L))
          .as("n_pairs_kept"))
    val out = base.crossJoin(pairStats).select(
      col("n_docs"), col("n_moved"),
      (col("n_moved").cast("double") / col("n_docs").cast("double"))
        .as("moved_frac"),
      col("n_pairs_e0"), col("n_pairs_kept"),
      (col("n_pairs_kept").cast("double") / col("n_pairs_e0").cast("double"))
        .as("pair_stability"))
    // the audit reduces to ONE row — collect it eagerly so the
    // persist can be released inside the call instead of pinning the
    // packing for the session in library use
    s.createDataFrame(s.sparkContext.parallelize(out.collect().toSeq, 1),
      out.schema)
    } finally packed.unpersist(blocking = false)
  }

  /** q263 — file-level BLOOM-INDEX point lookup
    * ([[graft.operators.BloomIndex]]): the corpus laid out by doc_id
    * buckets, probed by content FINGERPRINT — a column min/max zone
    * maps can't prune (every bucket's fingerprint envelope spans the
    * hash space; contrast q114's zonemap on the layout key). The
    * per-bucket bloom sidecar restores file skipping: probes read
    * the 16-row sidecar, keep might-contain buckets, and push the
    * survivors as a static partition filter (BloomIndexSpec asserts
    * the PartitionFilters and the skipped-bucket count). No false
    * negatives, so the result is BIT-identical to the full-scan
    * fingerprint join the oracle runs — the losslessness
    * certificate, q239's pattern applied to data skipping. The
    * probe set mixes present fingerprints (doc_id%10=3) with absent
    * ones (exercising the exact-join FP kill). */
  def q263BloomPointLookup(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = s"/root/repo/target/graft_bloomidx/$tag"
    graft.operators.BloomIndex.ensureBuilt(docs, 16, path)
    val present = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val absent = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(md5(concat(lit("absent-"), col("doc_id").cast("string"))).as("fp"))
    val probes = present.union(absent).distinct()
    graft.operators.BloomIndex.lookup(s, path, probes)
      .orderBy("fp", "doc_id")
  }

  /** q269 — content-keyed RETENTION SWEEP as an oracle row
    * ([[graft.operators.Retention]]): erase every copy of the listed
    * content fingerprints (doc_id%37 draw — exact dups under other
    * ids are erased too, the "all copies" contract of a takedown)
    * from the bucket-partitioned table, rewriting ONLY bloom-candidate
    * buckets via dynamic partition overwrite. The scratch table is
    * rebuilt fresh each invocation (a sweep is destructive, so reuse
    * would make the second run vacuous); the audit's rows_after is
    * measured from the post-sweep FILES, so the oracle's
    * before−deleted arithmetic certifies the on-disk result. */
  def q269RetentionSweep(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = s"/root/repo/target/graft_retention/$tag"
    graft.operators.BloomIndex.build(docs, 16, path)
    val fps = docs.filter(pmod(col("doc_id"), lit(37)) === 5)
      .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
    graft.operators.Retention.sweep(s, path, fps).orderBy("bucket")
  }

  /** q275 — RELEASE NOVELTY profile: for every document of release
    * v2, the fraction of its distinct 5-grams UNSEEN in release v1
    * (the content-level "what is actually new" a release changelog
    * can't show — q245 counts added/changed DOCS, this measures new
    * MATERIAL inside them; same versions derivation as q245, so the
    * two artifacts reconcile). Edited docs score low-but-nonzero
    * (only the appended span is new), carried-over docs score 0,
    * genuinely new docs score high. Scale shape: distinct 5-grams on
    * both sides, one gram-keyed left join (the q209 decontamination
    * shuffle), per-doc aggregate; v2 docs too short for grams keep a
    * NULL novelty through the universe left-join (the q195 lesson —
    * never drop rows the panel is supposed to account for). */
  def q275ReleaseNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    val v1 = docs.filter(pmod(col("doc_id"), lit(17)) =!= 3)
    val v2 = docs.filter(pmod(col("doc_id"), lit(23)) =!= 5)
      .withColumn("text", when(pmod(col("doc_id"), lit(11)) === 7,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 5,
          array_distinct(transform(sequence(lit(1), size(col("toks")) - 4),
            i => concat_ws(" ",
              element_at(col("toks"), i), element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2), element_at(col("toks"), i + 3),
              element_at(col("toks"), i + 4)))))
          .otherwise(array().cast("array<string>"))).as("gram"))
    // gated two-sided gram-exchange sizing (ExplodedJoin scaladoc,
    // round-10 sweep of the q225 hazard class); the per-doc aggregate
    // after the left join is a hash agg over a doc-bounded key space
    // (map-side combine, no sort) and stays at planner defaults
    val sized = ExplodedJoin.sizer(s,
      Tables.documentCount(s, dir) * 64L, col("gram"))
    val g1 = sized(grams(v1)).select("gram").distinct()
      .withColumn("seen", lit(1))
    val per = sized(grams(v2)).join(g1, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("novel_grams"))
    v2.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"),
        when(col("n_grams") > 0,
          col("novel_grams").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q275_release_novelty" -> q275ReleaseNovelty _,
    "q269_retention_sweep" -> q269RetentionSweep _,
    "q263_bloom_point_lookup" -> q263BloomPointLookup _,
    "q200_epoch_shards" -> q200EpochShards _,
    "q240_context_packing" -> q240ContextPacking _,
    "q242_release_pipeline" -> q242ReleasePipeline _,
    "q245_release_diff" -> q245ReleaseDiff _,
    "q222_shard_manifest" -> q222ShardManifest _,
    "q223_shuffle_stability" -> q223ShuffleStability _,
    "q152_systematic_sample" -> q152SystematicSample _,
    "q124_quota_apportion" -> q124QuotaApportion _,
    "q131_priority_sample" -> q131PrioritySample _,
    "q78_stratified_sample" -> q78StratifiedSample _,
    "q79_weighted_sample" -> q79WeightedSample _,
    "q59_token_packing" -> q59TokenPacking _,
    "q63_contamination" -> q63Contamination _,
    "q64_pii_scrub" -> q64PiiScrub _,
    "q65_repetition" -> q65Repetition _,
  )

  private val tokensSql = "regexp_split_to_array(lower(trim(text)), ' +')"

  val oracles: Map[String, String] = Map(
    // q263: the algorithm-independent ground truth — a plain
    // fingerprint join over the raw table; bloom skipping must be
    // bit-identical (no false negatives, FPs die in the exact join).
    "q275_release_novelty" ->
      s"""WITH v1 AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 17 != 3),
         |v2 AS (
         |  SELECT doc_id, CASE WHEN doc_id % 11 = 7 THEN text || ' rev2'
         |    ELSE text END AS text
         |  FROM documents WHERE doc_id % 23 != 5),
         |t1 AS (SELECT doc_id, $tokensSql AS toks FROM v1),
         |t2 AS (SELECT doc_id, $tokensSql AS toks FROM v2),
         |g1 AS (
         |  SELECT DISTINCT unnest(list_distinct(
         |    CASE WHEN len(toks) >= 5 THEN
         |      list_transform(range(1, len(toks) - 3),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |          || ' ' || toks[i+3] || ' ' || toks[i+4])
         |    ELSE [] END)) AS gram
         |  FROM t1),
         |g2 AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) >= 5 THEN
         |      list_transform(range(1, len(toks) - 3),
         |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |          || ' ' || toks[i+3] || ' ' || toks[i+4])
         |    ELSE [] END)) AS gram
         |  FROM t2),
         |per AS (
         |  SELECT g2.doc_id, COUNT(*) AS n_grams,
         |    CAST(SUM(CASE WHEN g1.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS novel_grams
         |  FROM g2 LEFT JOIN g1 ON g2.gram = g1.gram
         |  GROUP BY g2.doc_id)
         |SELECT v2.doc_id,
         |  COALESCE(per.n_grams, 0) AS n_grams,
         |  COALESCE(per.novel_grams, 0) AS novel_grams,
         |  CASE WHEN per.n_grams > 0
         |    THEN CAST(per.novel_grams AS DOUBLE) / per.n_grams END AS novelty
         |FROM v2 LEFT JOIN per ON v2.doc_id = per.doc_id
         |ORDER BY v2.doc_id""".stripMargin,
    // q269: before − deleted from the raw corpus must equal the
    // post-sweep on-disk counts the engine measured.
    "q269_retention_sweep" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    CAST(doc_id % 16 AS INTEGER) AS bucket
        |  FROM documents),
        |del AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 37 = 5)
        |SELECT bucket,
        |  COUNT(*) AS rows_before,
        |  CAST(SUM(CASE WHEN fp IN (SELECT fp FROM del) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS rows_deleted,
        |  COUNT(*) - CAST(SUM(CASE WHEN fp IN (SELECT fp FROM del) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS rows_after
        |FROM d GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    "q263_bloom_point_lookup" ->
      """WITH probes AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 10 = 3
        |  UNION
        |  SELECT md5('absent-' || CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE doc_id % 100 = 0),
        |d AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    CAST(doc_id % 16 AS INTEGER) AS bucket
        |  FROM documents)
        |SELECT p.fp, d.doc_id, d.bucket
        |FROM probes p JOIN d ON p.fp = d.fp
        |ORDER BY p.fp, d.doc_id""".stripMargin,
    "q223_shuffle_stability" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS token_count
         |  FROM documents),
         |e0 AS (
         |  SELECT doc_id, token_count,
         |    md5('0:' || CAST(doc_id AS VARCHAR)) AS k FROM t),
         |e0p AS (
         |  SELECT doc_id,
         |    CAST(floor((SUM(token_count) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - token_count)
         |      / 2000) AS BIGINT) AS s0
         |  FROM e0),
         |e1 AS (
         |  SELECT doc_id, token_count,
         |    md5('1:' || CAST(doc_id AS VARCHAR)) AS k FROM t),
         |e1p AS (
         |  SELECT doc_id,
         |    CAST(floor((SUM(token_count) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - token_count)
         |      / 2000) AS BIGINT) AS s1
         |  FROM e1),
         |m AS (
         |  SELECT e0p.doc_id, s0, s1 FROM e0p JOIN e1p USING (doc_id)),
         |base AS (
         |  SELECT COUNT(*) AS n_docs,
         |    SUM(CASE WHEN s0 <> s1 THEN 1 ELSE 0 END) AS n_moved FROM m),
         |p AS (
         |  SELECT a.s1 AS e1a, b.s1 AS e1b FROM m a
         |  JOIN m b ON a.s0 = b.s0 AND a.doc_id < b.doc_id),
         |ps AS (
         |  SELECT COUNT(*) AS n_pairs_e0,
         |    SUM(CASE WHEN e1a = e1b THEN 1 ELSE 0 END) AS n_pairs_kept FROM p)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_moved AS BIGINT) AS n_moved,
         |  CAST(n_moved AS DOUBLE) / CAST(n_docs AS DOUBLE) AS moved_frac,
         |  CAST(n_pairs_e0 AS BIGINT) AS n_pairs_e0,
         |  CAST(n_pairs_kept AS BIGINT) AS n_pairs_kept,
         |  CAST(n_pairs_kept AS DOUBLE) / CAST(n_pairs_e0 AS DOUBLE)
         |    AS pair_stability
         |FROM base, ps""".stripMargin,
    "q222_shard_manifest" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS token_count
         |  FROM documents),
         |e0 AS (
         |  SELECT doc_id, token_count,
         |    md5('0:' || CAST(doc_id AS VARCHAR)) AS k FROM t),
         |e0p AS (
         |  SELECT doc_id, token_count,
         |    CAST(floor((SUM(token_count) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - token_count)
         |      / 2000) AS BIGINT) AS shard_id
         |  FROM e0)
         |SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(token_count) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
         |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         |    AS manifest_md5
         |FROM e0p GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "q245_release_diff" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |v1 AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp1,
         |    CAST(len($tokensSql) AS BIGINT) AS tc1
         |  FROM d WHERE doc_id % 17 <> 3),
         |v2d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 7 THEN text || ' rev2' ELSE text END AS text
         |  FROM d WHERE doc_id % 23 <> 5),
         |v2 AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp2,
         |    CAST(len($tokensSql) AS BIGINT) AS tc2
         |  FROM v2d),
         |j AS (
         |  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, fp1, fp2, tc1, tc2
         |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id),
         |st AS (
         |  SELECT doc_id,
         |    CASE WHEN fp1 IS NULL THEN 'added'
         |         WHEN fp2 IS NULL THEN 'removed'
         |         WHEN fp1 <> fp2 THEN 'changed'
         |         ELSE 'unchanged' END AS status,
         |    COALESCE(tc2, 0) - COALESCE(tc1, 0) AS delta
         |  FROM j)
         |SELECT status, COUNT(*) AS n_docs,
         |  CAST(SUM(delta) AS BIGINT) AS token_delta,
         |  CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |    AS BIGINT)) AS BIGINT) AS ids_xor
         |FROM st GROUP BY status ORDER BY status""".stripMargin,
    "q242_release_pipeline" ->
      s"""WITH feat AS (
         |  SELECT doc_id, lang, text,
         |    list_filter($tokensSql, t -> t <> '') AS ftoks,
         |    CAST(length(text) AS DOUBLE) AS len_d,
         |    CAST(len($tokensSql) AS DOUBLE) AS toks_d,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |      AS punct_d,
         |    CAST(len(regexp_extract_all(lower(text),
         |      '\\b(the|and|is|of|to|a|in|it)\\b')) AS DOUBLE) AS stop_d
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id, lang, text,
         |    CAST((least(len_d / 500.0, 1.0) * 0.4)
         |      + ((1.0 - least(punct_d / greatest(len_d, 1.0) * 10.0, 1.0)) * 0.3)
         |      + (least(stop_d / greatest(toks_d, 1.0) * 5.0, 1.0) * 0.3)
         |      AS DOUBLE) AS quality_score,
         |    len(ftoks) AS token_count_g,
         |    CAST(COALESCE(list_max(list_transform(list_distinct(ftoks),
         |        t -> len(list_filter(ftoks, x -> x = t)))), 0) AS DOUBLE) /
         |      CAST(greatest(len(ftoks), 1) AS DOUBLE) AS top_word_frac,
         |    CASE WHEN len(ftoks) >= 3 THEN
         |      list_transform(range(1, len(ftoks) - 1),
         |        i -> ftoks[i] || ' ' || ftoks[i+1] || ' ' || ftoks[i+2])
         |    ELSE [] END AS tg
         |  FROM feat),
         |gate AS (
         |  SELECT doc_id, text FROM sig
         |  WHERE NOT (quality_score < 0.5) AND NOT (lang != 'en')
         |    AND NOT (top_word_frac > 0.2 OR
         |      (CASE WHEN len(tg) > 0 THEN
         |        CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(tg)) AS DOUBLE) /
         |          CAST(len(tg) AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END) > 0.3)
         |    AND NOT (token_count_g < 5)),
         |scrub AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '[a-z0-9]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'),
         |      '\\+1[0-9]{10}', '<PHONE>', 'g'),
         |      '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g')
         |      AS masked
         |  FROM gate),
         |dedup AS (
         |  SELECT doc_id, masked,
         |    row_number() OVER (PARTITION BY
         |      md5(regexp_replace(lower(trim(masked)), '\\s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn
         |  FROM scrub),
         |released AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(lower(trim(masked)), ' +'))
         |      AS BIGINT) AS token_count,
         |    md5('rel:' || CAST(doc_id AS VARCHAR)) AS k
         |  FROM dedup WHERE rn = 1),
         |packed AS (
         |  SELECT doc_id, token_count,
         |    SUM(token_count) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM released)
         |SELECT doc_id, token_count,
         |  CAST(cum - token_count AS BIGINT) AS offset,
         |  CAST((cum - token_count) // 512 AS BIGINT) AS ctx_start,
         |  CAST((cum - 1) // 512 AS BIGINT) AS ctx_end,
         |  (cum - 1) // 512 > (cum - token_count) // 512 AS crosses
         |FROM packed ORDER BY doc_id""".stripMargin,
    "q240_context_packing" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS token_count,
         |    md5('ctx:' || CAST(doc_id AS VARCHAR)) AS k
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, token_count,
         |    SUM(token_count) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, token_count,
         |  CAST(cum - token_count AS BIGINT) AS offset,
         |  CAST((cum - token_count) // 512 AS BIGINT) AS ctx_start,
         |  CAST((cum - 1) // 512 AS BIGINT) AS ctx_end,
         |  (cum - 1) // 512 > (cum - token_count) // 512 AS crosses
         |FROM s ORDER BY doc_id""".stripMargin,
    "q200_epoch_shards" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS token_count
         |  FROM documents),
         |e0 AS (
         |  SELECT doc_id, token_count,
         |    md5('0:' || CAST(doc_id AS VARCHAR)) AS k FROM t),
         |e0p AS (
         |  SELECT doc_id, token_count,
         |    CAST(floor((SUM(token_count) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - token_count)
         |      / 2000) AS BIGINT) AS shard_epoch0, k
         |  FROM e0),
         |e0r AS (
         |  SELECT doc_id, token_count, shard_epoch0,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_epoch0 ORDER BY k)
         |      AS INTEGER) AS pos_epoch0
         |  FROM e0p),
         |e1 AS (
         |  SELECT doc_id,
         |    md5('1:' || CAST(doc_id AS VARCHAR)) AS k, token_count FROM t),
         |e1p AS (
         |  SELECT doc_id,
         |    CAST(floor((SUM(token_count) OVER (ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - token_count)
         |      / 2000) AS BIGINT) AS shard_epoch1, k
         |  FROM e1),
         |e1r AS (
         |  SELECT doc_id, shard_epoch1,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_epoch1 ORDER BY k)
         |      AS INTEGER) AS pos_epoch1
         |  FROM e1p)
         |SELECT e0r.doc_id, e0r.token_count,
         |  e0r.shard_epoch0, e0r.pos_epoch0,
         |  e1r.shard_epoch1, e1r.pos_epoch1,
         |  e0r.shard_epoch0 <> e1r.shard_epoch1 AS moved
         |FROM e0r JOIN e1r ON e0r.doc_id = e1r.doc_id
         |ORDER BY e0r.doc_id""".stripMargin,
    "q152_systematic_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
        |  FROM h)
        |SELECT lang, doc_id, CAST((rn - 1) // 10 AS BIGINT) AS sample_idx
        |FROM r WHERE (rn - 1) % 10 = 0
        |ORDER BY lang, sample_idx""".stripMargin,
    "q131_priority_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(greatest(n_chars, 1) AS BIGINT) AS weight,
        |    CAST(greatest(n_chars, 1) AS DOUBLE) /
        |      ((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |          AS BIGINT) AS DOUBLE) + 1.0) / 281474976710656.0) AS priority
        |  FROM documents),
        |r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY priority DESC, doc_id)
        |    AS INTEGER) AS pick_rank
        |  FROM d),
        |tau AS (SELECT source, priority AS tau FROM r WHERE pick_rank = 26)
        |SELECT r.source, r.doc_id, r.weight, r.pick_rank,
        |  greatest(CAST(r.weight AS DOUBLE), COALESCE(t.tau, 0.0)) AS est_weight
        |FROM r LEFT JOIN tau t ON t.source = r.source
        |WHERE r.pick_rank <= 25
        |ORDER BY r.source, r.pick_rank""".stripMargin,
    "q124_quota_apportion" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS sample_key
        |  FROM documents),
        |c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1),
        |a0 AS (
        |  SELECT source, n,
        |    (200 * n) // t.total AS base, (200 * n) % t.total AS rem
        |  FROM c, (SELECT SUM(n) AS total FROM c) t),
        |r AS (
        |  SELECT source, base, rem,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM a0),
        |alloc AS (
        |  SELECT source,
        |    CAST(base + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END
        |      AS BIGINT) AS alloc
        |  FROM r, (SELECT 200 - SUM(base) AS leftover FROM r) l),
        |ranked AS (
        |  SELECT d.doc_id, d.source, a.alloc,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY d.source
        |      ORDER BY d.sample_key, d.doc_id) AS INTEGER) AS pick_rank
        |  FROM d JOIN alloc a ON a.source = d.source)
        |SELECT doc_id, source, alloc, pick_rank
        |FROM ranked WHERE pick_rank <= alloc
        |ORDER BY source, pick_rank""".stripMargin,
    "q78_stratified_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS sample_key
        |  FROM documents),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |      PARTITION BY lang ORDER BY sample_key, doc_id) AS INTEGER) AS stratum_rank
        |  FROM keyed)
        |SELECT doc_id, lang, sample_key, stratum_rank
        |FROM ranked WHERE stratum_rank <= 30
        |ORDER BY lang, stratum_rank""".stripMargin,
    "q79_weighted_sample" ->
      """WITH feat AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS len_d,
        |    CAST(len(regexp_split_to_array(lower(trim(text)), ' +')) AS DOUBLE) AS toks_d,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS punct_d,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|a|in|it)\b')) AS DOUBLE) AS stop_d,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS DOUBLE)
        |      / 281474976710656.0 AS sample_frac
        |  FROM documents),
        |score AS (
        |  SELECT doc_id, sample_frac,
        |    CAST((least(len_d / 500.0, 1.0) * 0.4)
        |      + ((1.0 - least(punct_d / greatest(len_d, 1.0) * 10.0, 1.0)) * 0.3)
        |      + (least(stop_d / greatest(toks_d, 1.0) * 5.0, 1.0) * 0.3) AS DOUBLE) AS quality_score
        |  FROM feat)
        |SELECT doc_id, quality_score, sample_frac FROM score
        |WHERE sample_frac < quality_score
        |ORDER BY doc_id""".stripMargin,
    "q59_token_packing" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS token_count
         |  FROM documents)
         |SELECT doc_id, token_count,
         |  CAST(SUM(token_count) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
         |  CAST(floor((SUM(token_count) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - token_count) / 2000)
         |    AS BIGINT) AS shard_id
         |FROM t ORDER BY doc_id""".stripMargin,
    "q63_contamination" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         |    list_distinct($tokensSql) AS toks
         |  FROM documents),
         |test AS (SELECT doc_id AS test_doc_id, fp AS test_fp, toks AS test_toks
         |         FROM d WHERE doc_id % 20 = 0),
         |train AS (SELECT * FROM d WHERE doc_id % 20 != 0),
         |scored AS (
         |  SELECT t.doc_id,
         |    CAST(len(list_filter(t.toks, x -> list_contains(s.test_toks, x))) AS DOUBLE)
         |      / (len(t.toks) + len(s.test_toks)
         |         - len(list_filter(t.toks, x -> list_contains(s.test_toks, x)))) AS jac,
         |    t.fp = s.test_fp AS exact
         |  FROM train t CROSS JOIN test s)
         |SELECT doc_id,
         |  CAST(MAX(CASE WHEN exact THEN 1 ELSE 0 END) AS BIGINT) AS has_exact_match,
         |  (MAX(CASE WHEN exact THEN 1 ELSE 0 END) = 1 OR MAX(jac) >= 0.9)
         |    AS is_contaminated
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q64_pii_scrub" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or +1-555-000'
        |      || doc_id || ' now' AS dirty
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(length(dirty) AS INTEGER) AS dirty_len,
        |    regexp_replace(
        |      regexp_replace(dirty, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
        |      '\+[0-9][0-9-]{6,}', '<PHONE>', 'g') AS scrubbed
        |  FROM w)
        |SELECT doc_id, dirty_len,
        |  CAST(length(scrubbed) AS INTEGER) AS scrubbed_len,
        |  regexp_matches(scrubbed, '@') AS has_residual_email,
        |  scrubbed
        |FROM s ORDER BY doc_id""".stripMargin,
    "q65_repetition" ->
      s"""WITH terms AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS total_tokens,
         |    unnest($tokensSql) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, total_tokens, term, COUNT(*) AS tf
         |  FROM terms GROUP BY 1, 2, 3),
         |ranked AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rank,
         |    CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS distinct_tokens
         |  FROM tf)
         |SELECT doc_id, total_tokens, distinct_tokens,
         |  CAST(CAST(distinct_tokens AS DOUBLE) / total_tokens AS DOUBLE) AS distinct_ratio,
         |  term AS top_token, tf AS top_token_count,
         |  CAST(CAST(tf AS DOUBLE) / total_tokens AS DOUBLE) AS top_token_share,
         |  (CAST(distinct_tokens AS DOUBLE) / total_tokens < 0.3
         |   OR CAST(tf AS DOUBLE) / total_tokens > 0.2) AS is_repetitive
         |FROM ranked WHERE rank = 1 ORDER BY doc_id""".stripMargin,
  )
}
