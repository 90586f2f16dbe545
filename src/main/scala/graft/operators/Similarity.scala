package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over embedding
  * columns (Array[Float]).
  *
  * Determinism note: float dot products are order/precision fragile
  * across engines, so the oracle-checked path quantizes embeddings to
  * integer milli-units first — integer dots are exact in both Spark
  * and any SQL oracle, and a float value×1000 can never land exactly
  * on .5 (denominator 2000 is not a power of two), so rounding is
  * unambiguous. The quantization error (~1e-3 relative) is far below
  * any ranking-relevant signal at 64 dims.
  *
  * Shape: every search is a CANDIDATE STAGE × the SHARED RE-RANK.
  * The candidate stage decides which (query_id, vec_id) pairs are
  * scored exactly:
  *   - all of them (brute force, a broadcast cross join);
  *   - shared SRP-LSH buckets ([[annTopK]]);
  *   - probed IVF lists ([[ivfTopK]], [[ivfSearchWith]], IvfIndex);
  *   - a compressed shortlist: PQ-ADC codes ([[pqTopK]], the IVF-PQ
  *     pair, [[funnelTopK]]'s second stage), a head-dim prefix
  *     ([[truncatedTopK]]) or sign-bit Hamming codes ([[binaryTopK]],
  *     [[funnelTopK]]'s first stage).
  * The shared parts are one per-query top-n step (rank by score, then
  * vec_id ascending), one cosine-on-precomputed-norms expression, one
  * ADC distance-table builder and shortlist stage, and one exact
  * re-rank tail (cosine or integer L2, narrowed to (query_id, vec_id,
  * score) before its window). Each entry point keeps its own join
  * strategy (broadcast hint or sizer) and output schema.
  */
object Similarity {

  /** Quantize a float vector to integer milli-units (exact longs). */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** Exact integer dot product — built-in formulation (interpreted
    * HigherOrderFunction fold; correct everywhere, slow in hot loops). */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Native codegen'd dot product (graft_dot_long, registered by
    * graft.plans.GraftExtensions): the same long as [[dotQ]], so
    * oracle parity is unaffected. */
  def dotFast(a: Column, b: Column): Column = call_function("graft_dot_long", a, b)

  /** Cosine similarity from quantized integer dots (deterministic). */
  def cosineQ(a: Column, b: Column): Column =
    (dotQ(a, b).cast("double") /
      sqrt(dotQ(a, a).cast("double") * dotQ(b, b).cast("double"))).cast("double")

  /** Brute-force cosine top-k: broadcast the (small) query set against
    * the corpus, rank per query with (score desc, id) tie-break.
    * The corpus scan is embarrassingly parallel — no corpus shuffle;
    * only the per-query top-k aggregation shuffles k rows per query.
    * Squared norms are precomputed per side (one dot per row instead
    * of two per PAIR); the cosine formula keeps the exact
    * dot/sqrt(n2a·n2b) double arithmetic of the oracle.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cols = corpus.columns ++ queries.columns
    rerankTopK(withNorm(corpus, "query_vec", "_n2c")
        .crossJoin(broadcast(withNorm(queries, "qvec", "_n2q"))).filter(notSelf),
        k, carry = cols.filterNot(Set("query_id", "vec_id")).toSeq)
      .select((cols :+ "cosine" :+ "rank").map(col): _*)
  }

  // ------------------------------------------------ shared re-rank

  /** Cosine from the exact integer dot of corpus vector `cv` and query
    * vector `qv` over their precomputed norms² — the oracle's
    * dot/sqrt(n2q·n2c) double arithmetic, one copy for every scorer. */
  private[graft] def cosineOnNorms(cv: Column, qv: Column, n2c: Column,
                                   n2q: Column): Column =
    (dotFast(cv, qv).cast("double") /
      sqrt(n2q.cast("double") * n2c.cast("double"))).cast("double")

  /** `df` with the exact integer norm² of its vector column `vec` as `n2`. */
  private[operators] def withNorm(df: DataFrame, vec: String, n2: String): DataFrame =
    df.withColumn(n2, dotFast(col(vec), col(vec)))

  /** Self pairs never rank: a query is a corpus slice. */
  private val notSelf: Column = col("query_id") =!= col("vec_id")

  /** The per-query top-n step every ranked stage ends in: `rank` by
    * `score`, then vec_id ascending (the family's one tie-break),
    * within each query_id; keep rank ≤ n. A rank ≤ n filter over
    * row_number plans as WindowGroupLimit, a map-side partial top-n
    * under the window exchange. */
  private def topN(df: DataFrame, n: Int, score: Column): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(score, col("vec_id").asc)))
      .filter(col("rank") <= n)

  /** Candidate (query_id, vec_id, …) rows with both full vectors and
    * their norms² fetched by equi-join: the corpus side by vec_id, the
    * (bounded) query side broadcast. */
  private def fetch(cands: DataFrame, corpus: DataFrame,
                    queries: DataFrame): DataFrame =
    cands
      .join(withNorm(corpus.select("vec_id", "query_vec"), "query_vec", "_n2c"), "vec_id")
      .join(broadcast(withNorm(queries.select("query_id", "qvec"), "qvec", "_n2q")),
        "query_id")

  /** The exact re-rank tail every entry point ends in. `pairs` carry
    * query_vec/_n2c and qvec/_n2q; each is scored by exact cosine, or
    * by integer-exact L2 (‖c‖² − 2c·q + ‖q‖², a BIGINT) when `l2`,
    * then narrowed to (query_id, vec_id, score, carry…) BEFORE the
    * rank window, so its partial top-k sorts ~30 B rows instead of
    * rows carrying two 64-long vectors (at sf100 the wide sort spilled
    * 17 GB); `place` repartitions those narrow rows for the window
    * (annTopK's query_id sizer). Output: (query_id, rank, vec_id,
    * cosine | l2_dist, carry…), the k best per query. */
  private def rerankTopK(pairs: DataFrame, k: Int, l2: Boolean = false,
                         carry: Seq[String] = Nil,
                         place: DataFrame => DataFrame = identity): DataFrame = {
    val (score, by) =
      if (l2) ("l2_dist", col("_n2c") - lit(2L) * dotFast(col("query_vec"), col("qvec")) + col("_n2q"))
      else ("cosine", cosineOnNorms(col("query_vec"), col("qvec"), col("_n2c"), col("_n2q")))
    val narrow = pairs.withColumn(score, by)
      .select((Seq("query_id", "vec_id", score) ++ carry).map(col): _*)
    topN(place(narrow), k, if (l2) col(score).asc else col(score).desc)
      .select((Seq("query_id", "rank", "vec_id", score) ++ carry).map(col): _*)
  }

  /** Deterministic ±1 hyperplanes for sign-random-projection LSH,
    * derived from a fixed seed (identical on every executor/run). */
  def planes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(if (rnd.nextBoolean()) 1 else -1)
  }

  /** Per-band SRP bucket keys: planes are grouped into `bands` bands
    * of `bitsPerBand`; a vector's key in band b packs the sign bits
    * of that band's planes. Two similar vectors agree on all bits of
    * SOME band with good probability (multi-table LSH), and
    * bitsPerBand controls bucket granularity: at corpus size n, pick
    * bitsPerBand ≈ log2(n / targetBucketSize). This is load-bearing:
    * the round-6 ScaleSweep measured growth exponent 1.14 for the
    * FIXED 4-bit configuration on a 10x corpus (buckets saturate →
    * candidates/query grow linearly, like brute force at 1.28),
    * versus 0.60/0.56 for the IVF family whose √n codebook scales
    * resolution structurally — prefer IVF/IVF-PQ for corpus-scale
    * ANN and reserve SRP for stream-at-ingest bucketing where state,
    * not corpus, bounds occupancy (PLANS.md round-6). Pure codegen'd
    * expression. */
  def srpBandKeys(qvec: Column, ps: Array[Array[Int]], bands: Int,
                  bitsPerBand: Int,
                  dot: (Column, Column) => Column = dotQ): Column = {
    require(ps.length == bands * bitsPerBand)
    array((0 until bands).map { b =>
      (0 until bitsPerBand).map { j =>
        val planeArr = array(ps(b * bitsPerBand + j).map(x => lit(x.toLong)): _*)
        when(dot(qvec, planeArr) > 0, lit(1L << j)).otherwise(0L)
      }.reduce(_ + _)
    }: _*)
  }

  /** Smallest bits-per-band whose bucket space covers n/targetBucket
    * buckets (clamped to [minBits, maxBits]) — the log-scaled SRP
    * resolution rule, in pure integer arithmetic so any engine
    * derives the identical value from the corpus count. */
  def autoBits(n: Long, targetBucket: Long = 40L,
               minBits: Int = 4, maxBits: Int = 16): Int = {
    val need = (n + targetBucket - 1) / targetBucket
    (minBits to maxBits).find(b => (1L << b) >= need).getOrElse(maxBits)
  }

  /** Band-major plane slice of a TIERED pool (tiers of
    * bands×blockBits planes): band b's bit j is drawn from tier
    * j/blockBits at offset b·blockBits + j%blockBits. For
    * bits ≤ blockBits this reproduces the historical single-tier
    * slices exactly (tier 0 is the original pool — the seeded
    * generator is prefix-stable), and each further tier adds
    * blockBits of band resolution, so a 256-plane pool carries the
    * bit cap from 16 to 32. Shared by [[annTopKAuto]], the occupancy
    * probe, and the oracle's index arithmetic
    * ((p // 128)·16 + p % 16 < bits). */
  def srpPoolSlice(pool: Array[Array[Int]], bands: Int, blockBits: Int,
                   bits: Int): Array[Array[Int]] = {
    require(pool.length >= bands * blockBits,
      s"plane pool ${pool.length} < bands*blockBits ${bands * blockBits}")
    require(bits <= (pool.length / (bands * blockBits)) * blockBits,
      s"bits $bits exceeds the pool's tier capacity")
    Array.tabulate(bands * bits) { i =>
      val band = i / bits
      val j = i % bits
      pool((j / blockBits) * bands * blockBits +
        band * blockBits + (j % blockBits))
    }
  }

  /** Corpus-scaled SRP-LSH ANN — the fix for the measured q80
    * resolution ceiling (ScaleSweep round 6: fixed 4-bit bands grew
    * at exponent 1.14 because bucket occupancy tracks corpus size).
    * bits-per-band is derived from the corpus count via [[autoBits]],
    * holding EXPECTED BUCKET SIZE — hence per-query candidate work —
    * constant as the corpus grows; multi-probe (2 one-bit flips)
    * recovers the recall that longer keys cost, per Lv et al. 2007.
    *
    * The bit cap is the POOL's, not blockBits': the pool is laid out
    * in TIERS of bands×blockBits planes, and band b's bit j comes
    * from tier j/blockBits at offset b·blockBits + j%blockBits — for
    * bits ≤ blockBits this reproduces the single-tier slices exactly
    * (tier 0 IS the historical 128-plane pool, since the seeded
    * generator is prefix-stable), and each further tier adds
    * blockBits of resolution per band. A 256-plane pool therefore
    * caps bits at 32: occupancy holds the ~targetBucket design point
    * to n ≈ 40·2^32 ≈ 1.7e11 vectors, where the old 16-bit cap
    * saturates at 40·2^16 ≈ 2.6M — past it candidates per query grow
    * linearly with n (SrpOccupancyProbe's documented prediction; the
    * round-11 sf100 corpus — 2M vectors, bits=16 chosen naturally at
    * 77% of the old cap, occupancy 30.5 — sat BELOW it, and its
    * 14.3 GB spill came from three plan defects since fixed here:
    * the broadcast bucket join, default-partition candidate
    * exchanges, and a wide window sort. The cap lift is the
    * forward-looking half of that fix). The configuration at any
    * corpus size stays a deterministic function of (seed, count)
    * that an oracle replays from the same pool literal.
    *
    * `knownN` skips the parameter-picking count() when the caller
    * already has the table's row count (the Tables.rowCount memo) —
    * at 100 TB you'd read it from table stats; it only picks the
    * parameter, never the data. `knownQ` is the same courtesy for
    * the QUERY-set size — it gates the q2 broadcast (see annTopK).
    *
    * `forceBits` (> 0) pins the band resolution regardless of corpus
    * count — the ops/test hook for exercising the tier-1 regime
    * (bits ≥ 17) below the ~2.6M-vector corpus size that derives it
    * naturally; q279 runs it oracle-checked at 18 bits. */
  def annTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                  pool: Array[Array[Int]], bands: Int = 8,
                  blockBits: Int = 16, targetBucket: Long = 40L,
                  multiProbe: Int = 2, knownN: Long = -1L,
                  knownQ: Long = -1L, forceBits: Int = -1): DataFrame = {
    val tiers = pool.length / (bands * blockBits)
    // The oracle contract: q215/q279's DuckDB SQL replays the tiered
    // slice arithmetic for a TWO-tier pool (p % 128, range(4, 33),
    // COALESCE 32), and srpBandKeys packs bit j as 1L << j — so 32 is
    // both the replayable and the shift-safe ceiling (round-11
    // advice). A deeper pool must revisit the packing AND the oracle.
    require(tiers * blockBits <= 32,
      s"pool depth ${tiers * blockBits} bits exceeds the 32-bit oracle/packing contract")
    val n = if (knownN >= 0L) knownN else corpus.count()
    val bits =
      if (forceBits > 0) { require(forceBits <= tiers * blockBits); forceBits }
      else autoBits(n, targetBucket, maxBits = tiers * blockBits)
    val psUsed = srpPoolSlice(pool, bands, blockBits, bits)
    // Candidate-frame sizing bound (the ivfSearchWith pattern): each
    // of |Q| queries meets ~bands·(1+multiProbe)·occupancy corpus
    // rows, occupancy ≈ targetBucket by construction; |Q| is
    // over-bounded by n (queries are a corpus slice — overestimating
    // only shrinks partitions, and the sizer gate stays closed at
    // small scale). Double math saturated at Long.MaxValue, as in
    // candidateEstimate.
    val est = math.min(Long.MaxValue.toDouble,
      n.toDouble * bands * (1 + multiProbe) * targetBucket).toLong
    annTopK(corpus, queries, k, psUsed, bands, bits, multiProbe, est, knownQ)
  }

  // ------------------------------------------------------------- IVF

  /** Deterministic IVF coarse-quantizer "training": the numCentroids
    * corpus rows with the smallest md5(vec_id) are the centroids — a
    * uniform stateless pseudo-random draw (the same engine-portable
    * trick as the md5 hash sampler), so any engine rebuilds the
    * identical codebook. The k (id, vector) pairs ARE the model:
    * tiny, collected once via TakeOrdered, then shipped to executors
    * as literals — exactly how a real IVF index ships its codebook.
    * At scale pick numCentroids ≈ sqrt(n), nprobe ≈ k/8..k/4. */
  def ivfCentroids(corpus: DataFrame, numCentroids: Int): Array[(Long, Array[Long])] =
    corpus
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .select("vec_id", "query_vec")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))

  /** Top-p centroid indices per row as ONE native projection
    * (graft_ivf_top, or graft_ivf_top_l2 when `l2`; see
    * [[graft.plans.IvfTopCentroids]]): a data-driven O(k·d) loop per
    * row, no join, no shuffle, so the corpus keeps its scan
    * partitioning at any codebook size (a k-literal expression tree
    * stops analyzing/compiling in the hundreds of centroids a ⌈√n⌉
    * codebook needs). Cosine mode scores dot(v,c)/|c| (the |v| factor
    * is constant per row and cannot change the order); L2 mode scores
    * 2v·c − ‖c‖², descending ≡ ascending ‖c−v‖². Both aux values come
    * from an exact integer norm² (quantized values keep every partial
    * sum below 2^53), so the doubles are exact cross-engine. The
    * codebook goes in cid-SORTED, so the kernel's tie toward the
    * smaller index is the family's tie toward the smaller cid.
    * Returns (cid by 0-based index, top-p index array). */
  private def ivfTop(vec: Column, cents: Array[(Long, Array[Long])], p: Int,
                     l2: Boolean): (Column, Column) = {
    val sorted = cents.sortBy(_._1)
    val aux = sorted.map { case (_, cv) =>
      val n2 = cv.map(x => x * x).sum.toDouble
      if (l2) n2 else math.sqrt(n2)
    }
    val top = call_function(if (l2) "graft_ivf_top_l2" else "graft_ivf_top", vec,
      typedLit(sorted.map(_._2.toSeq).toSeq), typedLit(aux.toSeq), lit(p))
    (array(sorted.map(c => lit(c._1)): _*), top)
  }

  /** Nearest-centroid cid, ties → smallest cid. `l2` is the
    * residual-coding assignment: the cosine rule is scale-invariant
    * and can pick an angularly-close but L2-FAR centroid, which would
    * inflate the residuals PQ codes must then capture. A null vector
    * gets a null cid, so it lands in no list. That needs
    * try_element_at: under ANSI, element_at over the null-free cid
    * array is typed NOT NULL even when its index is null, so the null
    * would come out as cid 0. */
  def ivfAssign(vec: Column, cents: Array[(Long, Array[Long])],
                l2: Boolean = false): Column = {
    val (cidAt, top) = ivfTop(vec, cents, 1, l2)
    try_element_at(cidAt, element_at(top, 1) + 1)
  }

  /** Top-nprobe (query_id, qvec, cid) probe rows per query, one
    * projection + explode under [[ivfAssign]]'s scoring rule. A null
    * query vector yields no probe rows. */
  def ivfProbes(queries: DataFrame, cents: Array[(Long, Array[Long])],
                nprobe: Int, l2: Boolean = false): DataFrame = {
    val (cidAt, top) = ivfTop(col("qvec"), cents, nprobe, l2)
    queries.select(col("query_id"), col("qvec"), explode(top).as("_pidx"))
      .select(col("query_id"), col("qvec"),
        element_at(cidAt, col("_pidx") + 1).as("cid"))
  }

  /** IVF-flat probed search: assign corpus rows to inverted lists
    * (scan-speed projection), broadcast-join the queries' probed list
    * ids, exact-cosine only within probed lists, per-query top-k.
    * The scale path alternative to SRP-LSH: scoring cost drops from
    * |Q|·|C| to |Q|·nprobe·E[list size]; corpus never shuffles before
    * the final top-k (which ships only candidates). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numCentroids: Int, nprobe: Int): DataFrame = {
    val cents = ivfCentroids(corpus, numCentroids)
    probedTopK(IvfIndex.assignOnly(corpus, cents), ivfProbes(queries, cents, nprobe), k)(
      (l, p) => l.join(broadcast(p), "cid"))
  }

  /** Corpus-scaled IVF-flat: numCentroids = ⌈√n⌉ — the balance point
    * between the n·k assignment scan and the |Q|·nprobe·(n/k) probe
    * scoring (both land at n^1.5 under a corpus-proportional query
    * load, the IVF asymptote; the fixed-k variant above is quadratic
    * there, measured e=2.1 with 13 GB of window spill at the sf10
    * sweep point). Two plan choices make √n lists viable on top of
    * the native assign/probe projections:
    *   - the candidate join carries no broadcast hint: the planner
    *     broadcasts the |Q|·nprobe probe side while it is small and
    *     shuffle-joins on cid at scale (a corpus-proportional query
    *     set cannot be broadcast at 100 TB);
    *   - the per-query top-k rides WindowGroupLimit (rank ≤ k pushes
    *     a map-side partial top-k under the exchange), so the window
    *     shuffle ships ≤ k·nprobe rows per query, not whole lists. */
  def ivfTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                  nprobe: Int): DataFrame = {
    val n = corpus.count()
    val numC = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    ivfSearchWith(corpus, queries, k, nprobe, ivfCentroids(corpus, numC),
      knownN = n)
  }

  /** The auto-discipline IVF search against an ARBITRARY codebook
    * (md5 draw, Lloyd-refined, externally trained): native-projection
    * assign/probe, planner-chosen join side, WindowGroupLimit top-k.
    * Centroids are (cid, integer vector) — sum vectors are fine
    * (cosine is scale-invariant).
    *
    * CANDIDATE-frame sizing (the r10 sf100 find): the cid join emits
    * |Q|·nprobe·(n/numC) candidate rows — decoupled from both inputs
    * — so both sides go through the gated two-sided cid sizer (|Q|
    * over-bounded by n — an unfiltered parquet-backed count is
    * metadata-cheap, a filtered query count would be a scan). Callers
    * that already counted (ivfTopKAuto sizes its codebook from n) pass
    * knownN so the count job runs once per search, not twice — and a
    * DERIVED corpus (filtered, joined) pays its one scan once. */
  def ivfSearchWith(corpus: DataFrame, queries: DataFrame, k: Int,
                    nprobe: Int, cents: Array[(Long, Array[Long])],
                    knownN: Long = -1L): DataFrame = {
    val n = if (knownN >= 0L) knownN else corpus.count()
    val est = candidateEstimate(n, nprobe, cents.length)
    val sized = graft.queries.ExplodedJoin.sizer(corpus.sparkSession, est, col("cid"))
    probedTopK(IvfIndex.assignOnly(corpus, cents), ivfProbes(queries, cents, nprobe), k)(
      (l, p) => sized(l).join(sized(p), "cid"))
  }

  /** The probed candidate stage of the IVF family ([[ivfTopK]],
    * [[ivfSearchWith]], IvfIndex.topK): `join` pairs the inverted
    * lists (IvfIndex.assignOnly's rows, which already carry the
    * vectors and _n2c) with the probe rows, each caller keeping its
    * own join strategy; self pairs drop, then the shared exact-cosine
    * tail ranks. */
  private[operators] def probedTopK(lists: DataFrame, probes: DataFrame, k: Int)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame =
    rerankTopK(join(lists, withNorm(probes, "qvec", "_n2q")).filter(notSelf), k)

  // -------------------------------------------------------------- PQ

  /** Product-quantization codebooks (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * vector space splits into m subspaces; each has a ks-entry
    * codebook. Codebook entries are the subvectors of the ks corpus
    * rows with the smallest md5(vec_id) — the same engine-portable
    * deterministic draw as the IVF codebook (a production build would
    * run [[SemanticDedup.lloydStep]] per subspace; the draw keeps the
    * oracle replayable). Returns sub(j)(k) = (subvector, |c|²). */
  def pqCodebooks(corpus: DataFrame, ks: Int, m: Int,
                  dim: Int): Array[Array[(Array[Long], Long)]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    val picked = ivfCentroids(corpus, ks) // md5-ordered: index == code
    codebook(m, ks)((j, k) => picked(k)._2.slice(j * subDim, (j + 1) * subDim))
  }

  /** m×ks sub-codebook entries (subvector, |c|²) from `entry(j, k)`. */
  private def codebook(m: Int, ks: Int)(
      entry: (Int, Int) => Array[Long]): Array[Array[(Array[Long], Long)]] =
    Array.tabulate(m, ks) { (j, k) =>
      val cv = entry(j, k)
      (cv, cv.map(x => x * x).sum)
    }

  /** PQ-ADC shortlist + exact re-rank (the production IVF-PQ serving
    * shape): encode the corpus to m small codes (argmin ‖x_j − c‖²
    * per subspace — a scan-speed least-of-structs projection, exactly
    * like the IVF assignment), precompute each query's m×ks exact
    * distance table, score every corpus row with m table lookups
    * instead of a dim-wide dot product, keep the `shortlist` best per
    * query, then re-rank ONLY the shortlist with exact L2 — the
    * standard two-stage ANN serving pattern (ADC shortlist bounds how
    * many full vectors are ever touched per query).
    *
    * All arithmetic is integer-exact (‖x_j − c‖² = ‖x_j‖² − 2x·c +
    * ‖c‖², and ‖x_j‖² is constant per row so the encode argmin drops
    * it), so both distances are BIGINTs any engine reproduces.
    *
    * Scale story: the corpus is read once to emit m bytes/vector of
    * codes — at rest the code index is ~dim·4/m× smaller than the
    * vectors (64-dim float → 4 codes) — and the ADC scan touches
    * codes only; queries broadcast their distance tables (the
    * bounded-query-set contract of q49's brute force, with per-pair
    * cost collapsed from a 64-dim dot to m array lookups). Full
    * vectors are fetched for |Q|·shortlist rows via WindowGroupLimit
    * + equi-join, never for the corpus scan. Compose with IVF probing
    * (q75) to cut the scanned fraction too. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             ks: Int = 16, m: Int = 4, dim: Int = 64,
             shortlist: Int = 50): DataFrame =
    pqTopKWith(corpus, queries, k, pqCodebooks(corpus, ks, m, dim), m, dim,
      shortlist)

  /** [[pqTopK]] with caller-supplied codebooks (e.g. Lloyd-refined
    * via [[pqRefineCodebooks]]) — the one implementation both entry
    * points share: ADC shortlist then exact-L2 re-rank. */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
                 sub: Array[Array[(Array[Long], Long)]], m: Int, dim: Int,
                 shortlist: Int): DataFrame =
    adcRerank(pqCoded(corpus, sub, dim / m)
      .crossJoin(broadcast(queryTables(queries, sub, dim / m))).filter(notSelf),
      corpus, queries, k, m, shortlist)

  /** The ADC → exact-L2 serving tail of the PQ family: `pairs` carry
    * m codes c0.. and m distance tables dt0..; keep the `shortlist`
    * best by ADC distance, then re-rank those by integer-exact L2.
    * Output (query_id, rank, vec_id, l2_dist, approx_dist). */
  private def adcRerank(pairs: DataFrame, corpus: DataFrame, queries: DataFrame,
                        k: Int, m: Int, shortlist: Int): DataFrame =
    rerankTopK(fetch(adcShortlist(pairs, m, shortlist), corpus, queries), k,
      l2 = true, carry = Seq("approx_dist"))

  /** IVF-PQ: the canonical web-scale ANN index (FAISS "IVFx,PQy") —
    * a coarse quantizer prunes the scan to nprobe of numCentroids
    * inverted lists, PQ-ADC scores ONLY those lists' codes, and the
    * exact-L2 re-rank touches `shortlist` full vectors per query.
    * Composes the q75 pruning stage with the q101 compression stage;
    * unlike both, the candidate stage here is a broadcast HASH join
    * on the list id (|Q|·nprobe probe rows with their distance
    * tables), not a cross join — so the scanned fraction is
    * ~nprobe/numCentroids AND per-pair cost is m table lookups.
    * The corpus is read once, emitting (cid, m codes) per vector in
    * one scan-speed projection — the on-disk index layout at 100 TB
    * (cluster the code table BY cid and the probe join prunes
    * whole partitions before the ADC math). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                numCentroids: Int, nprobe: Int,
                ks: Int, m: Int, dim: Int, shortlist: Int): DataFrame = {
    val subDim = dim / m
    val cents = ivfCentroids(corpus, numCentroids)
    val sub = pqCodebooks(corpus, ks, m, dim)
    val coded = corpus.select(col("vec_id") +:
      ivfAssign(col("query_vec"), cents).as("cid") +: pqCodes(col("query_vec"), sub, subDim): _*)
    val probeTables = ivfProbes(queries, cents, nprobe)
      .select("query_id", "cid")
      .join(queryTables(queries, sub, subDim), "query_id")
    adcRerank(coded.join(broadcast(probeTables), "cid").filter(notSelf),
      corpus, queries, k, m, shortlist)
  }

  /** IVF-PQ on RESIDUALS — the canonical FAISS IVFADC form of
    * [[ivfPqTopK]] (Jégou et al. 2011 §IV-A): each vector is PQ-coded
    * as its OFFSET from its coarse centroid (v − c_cid), an EXACT
    * decomposition ‖q−v‖² = ‖(q−c)−(v−c)‖² within each list, with
    * L2 (not cosine) coarse assignment so every vector joins the
    * list minimizing the residual the codes must capture. The price
    * is per-(query, probed-list) distance tables — the effective
    * query against list `cid` is (q − c_cid) — so the broadcast
    * grows from |Q| to |Q|·nprobe table rows; the scan side is
    * unchanged (cid + m codes per vector, one projection). All
    * arithmetic stays integer-exact, so the DuckDB oracle replays
    * training, encoding, ADC, and re-rank bit-for-bit.
    *
    * MEASURED caveat (SimilaritySpec, sf0.001): residual codes do
    * NOT beat raw codes on this corpus — full-probe (pure code
    * quality) raw 0.60 vs residual 0.54 recall@5. Residual coding
    * wins only when the coarse quantizer actually shrinks residuals;
    * the nearest of 16 stateless-draw centroids in 64 dims barely
    * does (nearest-of-16 random anchors ≈ a random anchor), so the
    * raw draw's cluster prior outweighs residualization. At corpus
    * scale — numCentroids ≈ √n, Lloyd-trained — residual variance
    * drops far below raw variance and IVFADC is the right default;
    * the operator is here for that regime, measured honestly in
    * this one. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        numCentroids: Int, nprobe: Int,
                        ks: Int, m: Int, dim: Int, shortlist: Int): DataFrame =
    ivfPqResidualImpl(corpus, queries, k, ivfCentroids(corpus, numCentroids),
      nprobe, ks, m, dim, shortlist, hintBroadcast = true)

  /** [[ivfPqResidualTopK]] at the corpus-scaled ⌈√n⌉ coarse codebook
    * (same auto discipline as [[ivfTopKAuto]]): L2 assignment and
    * probing through the native graft_ivf_top_l2 projection, and NO
    * broadcast hints — |Q|·nprobe residual distance tables stop
    * being broadcastable exactly when the query load scales with the
    * corpus, so the planner picks the join side. This is the regime
    * the q127 scaladoc's measured caveat points at: with √n coarse
    * cells the residuals actually shrink and IVFADC is the right
    * default. */
  def ivfPqResidualTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                            nprobe: Int, ks: Int, m: Int, dim: Int,
                            shortlist: Int): DataFrame = {
    val n = corpus.count()
    val numC = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    ivfPqResidualImpl(corpus, queries, k, ivfCentroids(corpus, numC),
      nprobe, ks, m, dim, shortlist, hintBroadcast = false, knownN = n)
  }

  /** |Q|·nprobe·(n/numC) candidate-frame bound for the cid-join
    * sizers, computed in Double and saturated at Long.MaxValue: the
    * naive Long product overflows around n≈1e10 with a small fixed
    * codebook, and a NEGATIVE estimate would make ExplodedJoin.parts
    * non-positive — silently failing the gate and re-creating the
    * exact sf100 partial-sort spill the sizing exists to prevent
    * (round-10 advice). Overestimating only shrinks partitions;
    * parts() caps at 4096 regardless. */
  private def candidateEstimate(n: Long, nprobe: Int, numC: Int): Long = {
    val est = n.toDouble * nprobe.toDouble *
      math.max(1.0, n.toDouble / math.max(1, numC).toDouble)
    if (est >= Long.MaxValue.toDouble) Long.MaxValue else est.toLong
  }

  private def ivfPqResidualImpl(corpus: DataFrame, queries: DataFrame, k: Int,
                                cents: Array[(Long, Array[Long])], nprobe: Int,
                                ks: Int, m: Int, dim: Int, shortlist: Int,
                                hintBroadcast: Boolean,
                                knownN: Long = -1L): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val subDim = dim / m
    val centDf = cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cvec")
    // L2 assignment, NOT the cosine assignment q119/q75 use: the ADC
    // distance decomposes as ||(q−c) − (v−c)||² only when v joined
    // the list that MINIMIZES its L2 residual — cosine assignment
    // (scale-invariant) can hand a vector to an angularly-close but
    // L2-far centroid, inflating the very residuals the codes must
    // capture (FAISS trains/assigns its coarse quantizer in L2 for
    // exactly this reason)
    val res = corpus
      .withColumn("cid", ivfAssign(col("query_vec"), cents, l2 = true))
      .join(broadcast(centDf), "cid")
      .withColumn("rvec", zip_with(col("query_vec"), col("cvec"), (a, b) => a - b))
    // PQ codebooks trained on the residual frame. The draw is SALTED
    // ('r' prefix): the plain md5 order would pick exactly the rows
    // that became coarse centroids — whose residuals are all ZERO
    // (every centroid row assigns to itself), collapsing the whole
    // codebook to 16 zero vectors and the ADC scores to per-query
    // constants (measured: recall fell to 0.33). The salt draws a
    // disjoint uniform sample of real residuals.
    val pickedRes = res
      .orderBy(md5(concat(lit("r"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(ks).select("rvec").collect()
      .map(_.getSeq[Long](0).toArray)
    val sub = codebook(m, ks)((j, kk) => pickedRes(kk).slice(j * subDim, (j + 1) * subDim))
    val coded = res.select(col("vec_id") +: col("cid") +: pqCodes(col("rvec"), sub, subDim): _*)
    // per-(query, probed list) residual query → per-pair ADC tables
    val probeTables = ivfProbes(queries, cents, nprobe, l2 = true)
      .join(broadcast(centDf), "cid")
      .withColumn("rqvec", zip_with(col("qvec"), col("cvec"), (a, b) => a - b))
      .select(col("query_id") +: col("cid") +: adcTables(col("rqvec"), sub, subDim): _*)
    // Same candidate-frame discipline as ivfSearchWith (r10 sf100
    // find, measured there as a 10.5 GB partial-sort spill on this
    // path): on the auto (no-broadcast) route, gated two-sided cid
    // sizing from the |Q|·nprobe·(n/numC) candidate estimate; on
    // both routes, the m per-query ks-entry distance-table arrays
    // (~1 KB/row) are reduced to the scalar approx_dist BEFORE the
    // shortlist window so its sort buffers ~30 B rows.
    val joined =
      if (hintBroadcast) coded.join(broadcast(probeTables), Seq("cid"))
      else {
        val n = if (knownN >= 0L) knownN else corpus.count()
        val est = candidateEstimate(n, nprobe, cents.length)
        val sized = graft.queries.ExplodedJoin.sizer(sp, est, col("cid"))
        sized(coded).join(sized(probeTables), Seq("cid"))
      }
    adcRerank(joined.filter(notSelf), corpus, queries, k, m, shortlist)
  }

  /** Corpus side of the ADC scan: each vector reduced to its m codes. */
  private def pqCoded(corpus: DataFrame, sub: Array[Array[(Array[Long], Long)]],
                      subDim: Int): DataFrame =
    corpus.select(col("vec_id") +: pqCodes(col("query_vec"), sub, subDim): _*)

  /** `vec`'s m PQ codes as columns c0..c{m-1}. */
  private def pqCodes(vec: Column, sub: Array[Array[(Array[Long], Long)]],
                      subDim: Int): Seq[Column] =
    sub.indices.map(j => pqCodeExpr(vec, sub, subDim, j).as(s"c$j"))

  /** The one ADC distance-table builder: for query vector `q`, one
    * ks-entry exact ‖q_j − c‖² array per subspace, as dt0..dt{m-1}.
    * `q` is the raw query, or the residual q − c_cid per probed list. */
  private def adcTables(q: Column, sub: Array[Array[(Array[Long], Long)]],
                        subDim: Int): Seq[Column] =
    sub.indices.map { j =>
      val qj = slice(q, j * subDim + 1, subDim)
      transform(pqCbLit(sub, j), e =>
        (dotQ(qj, qj) - lit(2L) * dotQ(qj, e.getField("cv")) +
          e.getField("n")).cast("long")).as(s"dt$j")
    }

  /** Query side of the ADC scan: per-query distance tables (broadcast
    * by callers). */
  private def queryTables(queries: DataFrame, sub: Array[Array[(Array[Long], Long)]],
                          subDim: Int): DataFrame =
    queries.select(col("query_id") +: adcTables(col("qvec"), sub, subDim): _*)

  /** The one ADC shortlist stage: `pairs` carry m codes and m tables;
    * approx_dist is the sum of the m table lookups, and the rows
    * narrow to (query_id, vec_id, approx_dist, carry…) before the
    * per-query top-`n` by (approx_dist, vec_id). */
  private def adcShortlist(pairs: DataFrame, m: Int, n: Int,
                           carry: Seq[String] = Nil): DataFrame = {
    val out = (Seq("query_id", "vec_id", "approx_dist") ++ carry).map(col)
    val adc = (0 until m).map(j => element_at(col(s"dt$j"), col(s"c$j") + 1)).reduce(_ + _)
    topN(pairs.withColumn("approx_dist", adc).select(out: _*), n, col("approx_dist").asc)
      .select(out: _*)
  }

  /** Truncated-dimension shortlist + exact re-rank (the
    * matryoshka-representation trick, Kusupati et al., NeurIPS 2022:
    * nested-prefix embeddings let the head dims carry most of the
    * signal): score every pair on the first `headDim` dims only —
    * a headDim/dim fraction of the dot-product work — keep a
    * per-query shortlist, then exact full-dim cosine on shortlist
    * rows only. Same two-stage serving skeleton as [[pqTopK]], with
    * dimension truncation instead of code lookups as the cheap
    * stage; at scale the head prefix can live in its own narrow
    * column (or index) so the scan reads headDim/dim of the bytes. */
  def truncatedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    headDim: Int, shortlist: Int): DataFrame = {
    // _n2h/_n2qh > 0 guards: a vector whose head prefix is all zeros
    // would give 0/0 = NaN head_cosine, and NaN sorts ABOVE every
    // real score in a descending window — flooding the shortlist.
    // Zero-head vectors are legitimately unrankable by the head
    // stage, so they are excluded (mirrored in the q103 oracle).
    val ch = withNorm(corpus.select(col("vec_id"), slice(col("query_vec"), 1, headDim).as("hv")),
      "hv", "_n2h").filter(col("_n2h") > 0)
    val qh = withNorm(queries.select(col("query_id"), slice(col("qvec"), 1, headDim).as("qh")),
      "qh", "_n2qh").filter(col("_n2qh") > 0)
    val cands = topN(ch.crossJoin(broadcast(qh)).filter(notSelf).withColumn("head_cosine",
        cosineOnNorms(col("hv"), col("qh"), col("_n2h"), col("_n2qh"))),
        shortlist, col("head_cosine").desc)
      .select("query_id", "vec_id", "head_cosine")
    rerankTopK(fetch(cands, corpus, queries), k, carry = Seq("head_cosine"))
  }

  /** The per-subspace codebook as ONE array-of-structs literal,
    * scanned with HOF loops. An unrolled ks-way least-of-structs (the
    * IVF-assignment idiom) is catastrophically wrong here: m·ks
    * inlined dot products made Janino spend ~80 s COMPILING the
    * generated method (execution itself was fine) — loop-shaped code
    * keeps compilation O(1) in ks at identical integer arithmetic. */
  private def pqCbLit(sub: Array[Array[(Array[Long], Long)]], j: Int): Column =
    array(sub(j).indices.map { kk =>
      val (cv, cn2) = sub(j)(kk)
      struct(array(cv.map(lit(_)): _*).as("cv"), lit(cn2).as("n"))
    }: _*)

  /** Nearest sub-codebook entry (argmin ‖x_j − c‖², dropping the
    * per-row-constant ‖x_j‖²); first index of the min = smallest
    * code on ties (oracle parity). */
  private[operators] def pqCodeExpr(vec: Column,
      sub: Array[Array[(Array[Long], Long)]], subDim: Int, j: Int): Column = {
    val d = transform(pqCbLit(sub, j), e =>
      e.getField("n") - lit(2L) * dotQ(slice(vec, j * subDim + 1, subDim),
        e.getField("cv")))
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** One rounded-mean Lloyd iteration per subspace: re-assign each
    * subvector to its nearest entry, then move every non-empty entry
    * to the element-wise MEAN of its members rounded to the nearest
    * integer — codebooks stay integer vectors, so pqTopK's exact
    * arithmetic (and its Janino-safe loop shape) is unchanged. The
    * production training path the md5 draw stands in for; the spec
    * measures the recall gain. */
  def pqRefineCodebooks(corpus: DataFrame,
      sub: Array[Array[(Array[Long], Long)]], m: Int,
      dim: Int): Array[Array[(Array[Long], Long)]] = {
    val subDim = dim / m
    // ONE corpus pass for all m subspaces: encode every subspace's
    // code, explode the full vector once, and route each element to
    // its (subspace, code, position) cell
    val codeArr = array((0 until m).map(j =>
      pqCodeExpr(col("query_vec"), sub, subDim, j)): _*)
    val stats = corpus
      .select(codeArr.as("codes"), posexplode(col("query_vec")))
      .select((col("pos") / subDim).cast("int").as("j"),
        element_at(col("codes"), (col("pos") / subDim).cast("int") + 1).as("c"),
        (col("pos") % subDim).as("p"), col("col").as("x"))
      .groupBy("j", "c", "p")
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (jc, rows) =>
        val byPos = rows.map(r => (r.getInt(2), r.getLong(3), r.getLong(4)))
          .sortBy(_._1)
        jc -> byPos.map { case (_, s, n) => math.round(s.toDouble / n) }.toArray
      }
    codebook(m, sub(0).length)((j, kk) =>
      stats.getOrElse((j, kk), sub(j)(kk)._1)) // empty entry: keep
  }

  /** Binary (1-bit) quantization + Hamming shortlist + exact re-rank:
    * each vector compresses to its per-dimension SIGN BITS — 64 dims
    * → 8 bytes, the most aggressive point on the compression ladder
    * (PQ compresses to codes, matryoshka to prefix dims, binary to
    * bits) — and candidate scoring is two xor+popcount ops per pair.
    * Bits pack into two 32-bit words (shifts ≤ 31 are exact and
    * ANSI-safe in both engines; a 64-bit word would need a sign-bit
    * dance at 1<<63). Same scan shape as pqTopK: codes only in the
    * scan, full vectors fetched for |Q|·shortlist rows. */
  def binaryCode(vec: Column, word: Int): Column = {
    val powers = array((0 until 32).map(j => lit(1L << j)): _*)
    // disjoint powers: sum ≡ bitwise OR, stays under 2^32 (ANSI-safe)
    aggregate(zip_with(slice(vec, word * 32 + 1, 32), powers,
      (x, p) => when(x > 0, p).otherwise(0L)), lit(0L), (acc, x) => acc + x)
  }

  /** The sign-bit Hamming candidate stage shared by [[binaryTopK]]
    * and [[funnelTopK]]: codes-only scan, top `shortlist`
    * (hamming, vec_id) per query. */
  private def hammingCandidates(corpus: DataFrame, queries: DataFrame,
                                shortlist: Int): DataFrame = {
    val coded = corpus.select(col("vec_id"),
      binaryCode(col("query_vec"), 0).as("b0"),
      binaryCode(col("query_vec"), 1).as("b1"))
    val qcoded = queries.select(col("query_id"),
      binaryCode(col("qvec"), 0).as("q0"),
      binaryCode(col("qvec"), 1).as("q1"))
    topN(coded.crossJoin(broadcast(qcoded)).filter(notSelf)
        .withColumn("hamming",
          (bit_count(col("b0").bitwiseXOR(col("q0"))) +
            bit_count(col("b1").bitwiseXOR(col("q1")))).cast("long")),
        shortlist, col("hamming").asc)
      .select("query_id", "vec_id", "hamming")
  }

  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 shortlist: Int): DataFrame =
    rerankTopK(fetch(hammingCandidates(corpus, queries, shortlist), corpus, queries),
      k, carry = Seq("hamming"))

  /** Three-stage compressed funnel — the recall upgrade over either
    * compressed path alone at the SAME exact-stage budget:
    *
    *   1. Hamming over sign-bit codes (2 xor+popcount per pair, 8-byte
    *     codes) keeps a WIDE shortlist of `hammingShortlist`;
    *   2. PQ-ADC rescoring of those survivors only (m table lookups
    *     per pair, codes only — no full vector touched) narrows to the
    *     `rerank` best;
    *   3. exact cosine re-rank fetches full vectors for |Q|·rerank
    *     rows only.
    *
    * The funnel works because the two compressions fail differently:
    * sign bits are blind to magnitude but cheap enough to cast a wide
    * net; ADC sees magnitude and re-orders the net so the exact
    * budget is spent on the right candidates. Stage 1+2 read codes
    * (10 bytes/vector at the defaults); the exact stage touches
    * rerank/|corpus| of the vectors — same budget as [[binaryTopK]]
    * or [[pqTopK]] with shortlist = rerank, strictly better ordering. */
  def funnelTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 hammingShortlist: Int, rerank: Int,
                 ks: Int = 16, m: Int = 4, dim: Int = 64): DataFrame =
    funnelTopKWith(corpus, queries, k, pqCodebooks(corpus, ks, m, dim),
      m, dim, hammingShortlist, rerank)

  /** [[funnelTopK]] with caller-supplied codebooks (e.g. Lloyd-refined
    * via [[pqRefineCodebooks]]). */
  def funnelTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
                     sub: Array[Array[(Array[Long], Long)]], m: Int, dim: Int,
                     hammingShortlist: Int, rerank: Int): DataFrame = {
    val subDim = dim / m
    val rescored = adcShortlist(hammingCandidates(corpus, queries, hammingShortlist)
      .join(pqCoded(corpus, sub, subDim), "vec_id")
      .join(broadcast(queryTables(queries, sub, subDim)), "query_id"),
      m, rerank, carry = Seq("hamming"))
    rerankTopK(fetch(rescored, corpus, queries), k,
      carry = Seq("hamming", "approx_dist"))
  }

  /** LSH-bucketed ANN: multi-table sign-random-projection — bucket
    * corpus + queries per band, score only within shared buckets,
    * take per-query top-k. The scale path: scoring cost drops from
    * |Q|·|C| to |Q|·bands·E[bucket size], tuned via bitsPerBand.
    *
    * multiProbe > 0 additionally probes, per band, the buckets whose
    * keys differ from the query's in one of the first `multiProbe`
    * bits (Lv et al., "Multi-Probe LSH", VLDB 2007): a near neighbor
    * that barely missed the bucket on one hyperplane sign is still
    * found. Recall rises without more tables or memory — only the
    * QUERY side fans out (×(1+multiProbe) probe rows); the corpus
    * index is untouched.
    *
    * Candidate pairs are emitted ONCE — from the FIRST matching band
    * only. Both exploded sides carry their full per-band key array
    * (bands longs, ~bands·8 B/row on the bucket exchange), and the
    * joined row keeps only `band == first b where vkeys[b] XOR
    * qkeys[b] ∈ flips` — a pure per-row filter at the join site, so a
    * pair co-bucketed in several bands (the common case on a
    * near-dup-heavy corpus: a true neighbor agrees in ~all bands)
    * never enters a shuffle more than once. This replaces the
    * round-11 plan's distinct(), whose pre-dedup repartition shipped
    * the full DUPLICATED candidate stream (the dominant term of
    * q215's 20.4 GB sf100 shuffle, e_shuffle 1.469). Within one band
    * a pair matches at most once (a corpus vector owns one bucket per
    * band and the probe flips are distinct keys), so first-band
    * filtering alone makes pairs globally unique — no dedup exchange
    * at any scale.
    *
    * `estQueries` (≥ 0) additionally gates the final query-vector
    * attach: broadcast while |Q|·~600 B fits the broadcast budget,
    * else a co-partitioned shuffle join on query_id — the
    * corpus-proportional query set's broadcast grows linearly with
    * the corpus (~120 MB at sf100, ~1.2 GB one decade later: a
    * memory cliff on every executor), while above the cliff the
    * honest cost is one wide pair exchange (the pair frame carries
    * the corpus vector to the query-partitioned join). -1 keeps the
    * unconditional broadcast for fixed-query-set callers. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              ps: Array[Array[Int]], bands: Int = 8, bitsPerBand: Int = 4,
              multiProbe: Int = 0, estCandidates: Long = -1L,
              estQueries: Long = -1L): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= bitsPerBand)
    val sp = corpus.sparkSession
    // Candidate-frame sizing (the round-11 sf100 find, mirroring
    // ivfSearchWith): the bucket-join emits ~|Q|·bands·(1+probe)·
    // occupancy rows — decoupled from both inputs — and the vector
    // re-attach join and the rank-k window land on the session
    // shuffle default (8 in the sweep), putting GBs through each
    // hash/sort at sf100 (measured 14.3 GB spill pre-fix). Every
    // exchange the candidate frame meets goes through the same gated
    // sizer; identity below the gate keeps small-scale plans
    // untouched. estCandidates < 0 (the fixed-resolution callers
    // q50/q80) sizes nothing.
    def sized(keys: String*): DataFrame => DataFrame =
      if (estCandidates >= 0L)
        graft.queries.ExplodedJoin.sizer(sp, estCandidates, keys.map(col): _*)
      else identity
    val sizedQ = sized("query_id")
    val sizedV = sized("vec_id")
    val flipsSeq: Seq[Long] = 0L +: (0 until multiProbe).map(1L << _).map(_.toLong)
    val bandC = corpus
      .select(col("vec_id"), srpBandKeys(col("query_vec"), ps, bands, bitsPerBand, dotFast).as("_vkeys"))
      .select(col("vec_id"), col("_vkeys"), posexplode(col("_vkeys")))
      .select(col("vec_id"), col("_vkeys"), col("pos").as("band"), col("col").as("bkey"))
    // flip mask 0 keeps the exact bucket; masks 2^j probe 1-bit
    // neighbors — applied to the query side only (single-probe skips
    // the flip explode entirely)
    val flips = array(flipsSeq.map(lit(_)): _*)
    val exploded = queries
      .select(col("query_id"), srpBandKeys(col("qvec"), ps, bands, bitsPerBand, dotFast).as("_qkeys"))
      .select(col("query_id"), col("_qkeys"), posexplode(col("_qkeys")))
    val bandQ =
      if (multiProbe == 0)
        exploded.select(col("query_id"), col("_qkeys"),
          col("pos").as("band"), col("col").as("bkey"))
      else
        exploded.select(col("query_id"), col("_qkeys"), col("pos").as("band"),
          explode(transform(flips, f => col("col").bitwiseXOR(f))).as("bkey"))
    // The bucket join: below the gate the query-side index is
    // broadcast (small scale); above it BOTH sides go through the
    // (band, bkey) sizer and meet in a co-partitioned shuffle join,
    // because a corpus-proportional query set's bucket index grows
    // linearly with the corpus (a memory cliff one decade past sf100,
    // while the shuffled corpus side is only ~100 B/row with its key
    // array aboard). Equal sizer counts co-partition the two sides,
    // so the join adds no third exchange. The strategy choice shares
    // the sizers' own gate predicate (ExplodedJoin.gateOpen) so the
    // two can never silently diverge (round-11 advice).
    val sizedB = sized("band", "bkey")
    val bucketJoined = {
      val gate = estCandidates >= 0L &&
        graft.queries.ExplodedJoin.gateOpen(sp, estCandidates)
      if (gate) sizedB(bandC).join(sizedB(bandQ), Seq("band", "bkey"))
      else bandC.join(broadcast(bandQ), Seq("band", "bkey"))
    }
    // first-matching-band filter: pairs are unique by construction
    // afterwards (see scaladoc), so no distinct()/dedup exchange ever
    // runs — the old pre-dedup repartition shipped every duplicate
    val diffs = zip_with(col("_vkeys"), col("_qkeys"), (a, b) => a.bitwiseXOR(b))
    val isMatch = transform(diffs, d => flipsSeq.map(f => d === lit(f)).reduce(_ || _))
    val candIds = bucketJoined
      .filter(array_position(isMatch, true) === col("band") + 1)
      .filter(notSelf)
      .select("query_id", "vec_id")
    val c2 = withNorm(corpus.select("vec_id", "query_vec"), "query_vec", "_n2c")
    val q2 = withNorm(queries.select("query_id", "qvec"), "qvec", "_n2q")
    // NARROW pair rows re-attach the corpus vectors by vec_id (both
    // sides share the vec_id sizer — equal partition counts
    // co-partition, see ExplodedJoin scaladoc), then the query
    // vectors by the estQueries-gated strategy; the rank-k window
    // input is the narrow (query_id, vec_id, cosine) projection (the
    // q228 lesson, round 10) and rides the query_id partitioning
    // either route leaves behind.
    val withCorpusVec = sizedV(candIds).join(sizedV(c2), "vec_id")
    val qBroadcastOk = estQueries < 0L ||
      estQueries * QueryRowBytes <= QueryBroadcastBudget
    if (qBroadcastOk)
      rerankTopK(withCorpusVec.join(broadcast(q2), "query_id"), k, place = sizedQ)
        .select("query_id", "vec_id", "cosine", "rank")
    else
      rerankTopK(sizedQ(withCorpusVec).join(sizedQ(q2), "query_id"), k)
        .select("query_id", "vec_id", "cosine", "rank")
  }

  /** ~bytes per broadcast query row (id + 64 quantized longs + norm +
    * array headers) and the budget past which the q2 broadcast stops
    * being the right plan: 256 MB per executor is comfortably inside
    * any sane executor memory, while one more 10× decade of a
    * corpus-proportional query set (~1.2 GB) is not. */
  private val QueryRowBytes = 600L
  private val QueryBroadcastBudget = 256L * 1024 * 1024
}
