package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection operators for training-data curation:
  * word-shingling, MinHash+LSH banding, SimHash.
  *
  * Architecture note (the custom-op escalation ladder, SURVEY.md §7):
  * the per-document kernels (shingle → hash → minhash/simhash) were
  * first built from `transform`/`aggregate` higher-order expressions;
  * profiling at sf0.1 showed interpreted-lambda overhead dominating
  * (~20 µs/element — 10s+ for 5k docs), so the kernels dropped to
  * typed mapPartitions over primitive arrays: deterministic, fully
  * distributed, and two orders of magnitude faster. Candidate
  * generation and verification stay declarative (joins + groupBy +
  * array_intersect) so Catalyst owns the shuffle topology.
  *
  * Scale design: LSH banding turns the O(n²) all-pairs problem into
  * groupBy(band-bucket) + within-bucket self-join, bounded by bucket
  * size. State per doc is a k-long signature — 5000× smaller than the
  * text it summarizes; only signatures and candidate IDs shuffle.
  */
object Dedup {

  // ---- deterministic hashing kernels (plain JVM, executor-side) ----

  /** 64-bit FNV-1a over a string — stable across JVMs/runs. */
  private[operators] def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private def rotl64(x: Long, k: Int): Long = (x << k) | (x >>> (64 - k))

  /** Distinct 64-bit word-n-gram shingle hashes of a text; documents
    * shorter than n tokens contribute one whole-text shingle. */
  private[operators] def shingleHashes(text: String, n: Int): Array[Long] = {
    val toks = text.trim.toLowerCase.split(" +")
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { th(i) = hash64(toks(i)); i += 1 }
    val out =
      if (th.length >= n) {
        val grams = new Array[Long](th.length - n + 1)
        var g = 0
        while (g <= th.length - n) {
          var acc = 0L
          var k = 0
          while (k < n) { acc ^= rotl64(th(g + k), (1 + 21 * k) % 64); k += 1 }
          grams(g) = acc
          g += 1
        }
        grams
      } else {
        var acc = 0L
        th.foreach(x => acc = rotl64(acc, 5) ^ x)
        Array(acc)
      }
    val distinct = out.distinct
    java.util.Arrays.sort(distinct)
    distinct
  }

  /** Classic 32-bit-domain MinHash family: h_i(x) = (a_i·x32 + b_i)
    * mod p, p prime > 2^32; coefficients below 2^30 from the index —
    * a_i·x32 + b_i < 2^62, no Long overflow. */
  private[graft] final val P = 4294967311L
  /** Coefficient constants, shared with the DuckDB oracle's MinHash CTE
    * (queries.DedupOps.sigBandedCtes) so the two cannot drift apart.
    * Untyped `final val`s are constants: scalac inlines them, so the
    * hot loop still divides by a literal. */
  private[graft] final val CoefPrime = 1073741789L
  private[graft] final val AMul = 0x9E3779B9L
  private[graft] final val BMul = 0x85EBCA6BL
  private[graft] final val BAdd = 0x27D4EB2FL
  private def aCoef(i: Int): Long = ((AMul * (i + 1)) % CoefPrime) | 1L
  private def bCoef(i: Int): Long = (BMul * (i + 1) + BAdd) % CoefPrime

  private[operators] def minhashSig(sh: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < sh.length) {
      val x32 = sh(j) & 0xFFFFFFFFL
      var i = 0
      while (i < k) {
        val h = (aCoef(i) * x32 + bCoef(i)) % P
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    sig
  }

  /** Winnowing fingerprints (the MOSS scheme): polynomial rolling
    * hash over char k-grams, minimum per sliding window of w hashes
    * (unsigned comparison), distinct survivors in unsigned order.
    * Guarantee: documents sharing any substring of length ≥ k+w-1
    * share a fingerprint. Texts shorter than k degenerate to one
    * whole-text FNV fingerprint. Pure JVM kernel — Long wraps mod
    * 2^64 exactly like the DuckDB oracle's HUGEINT arithmetic. */
  private[operators] val WinnowBase = 0x100000001b3L
  private[operators] def winnowFingerprints(text: String, k: Int = 8,
                                            w: Int = 4): Array[Long] = {
    val s = text.trim.toLowerCase
    if (s.length < k) return Array(hash64(s))
    val m = s.length - k + 1
    val hs = new Array[Long](m)
    var h = 0L
    var j = 0
    while (j < k) { h = h * WinnowBase + s.charAt(j); j += 1 }
    hs(0) = h
    var bk = 1L
    j = 0
    while (j < k - 1) { bk *= WinnowBase; j += 1 } // B^(k-1), wrapping
    var g = 1
    while (g < m) {
      h = (h - s.charAt(g - 1) * bk) * WinnowBase + s.charAt(g + k - 1)
      hs(g) = h
      g += 1
    }
    val nw = math.max(1, m - w + 1)
    val out = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      var mn = hs(i)
      var t = i + 1
      val end = math.min(i + w, m)
      while (t < end) {
        if (java.lang.Long.compareUnsigned(hs(t), mn) < 0) mn = hs(t)
        t += 1
      }
      out(i) = mn
      i += 1
    }
    out.distinct.sortBy(_ + Long.MinValue) // unsigned ascending
  }

  /** (id, n_fingerprints, min fingerprint, wrapping checksum of the
    * distinct set) per document — the compact winnowing digest. */
  def winnowDigest(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, w: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val fps = winnowFingerprints(text, k, w)
        (id, fps.length, fps.head, fps.sum) // sum wraps mod 2^64
      })
      .toDF(idCol, "n_fingerprints", "fp_min", "fp_checksum")
  }

  // ---- DataFrame operators ----

  /** (id, distinct sorted shingle-hash array) per document. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, shingleHashes(text, shingleN)) })
      .toDF(idCol, "_shingles")
  }

  /** Single-text MinHash signature — the same kernel the batch
    * `minhashSignatures` maps over the corpus, exposed for callers
    * that band per-record outside a DataFrame plan (the streaming
    * dedup state function). Keeping ONE kernel is what guarantees
    * stream ≡ batch candidate parity. */
  def signatureOf(text: String, k: Int = 16, shingleN: Int = 3): Array[Long] =
    minhashSig(shingleHashes(text, shingleN), k)

  /** (id, sig array<long> of k minhashes) per document — one typed
    * map over the corpus, no shuffle at all until the caller groups. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, shingleN: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, minhashSig(shingleHashes(text, shingleN), k))
      })
      .toDF(idCol, "sig")
  }

  /** Banded (id, band_idx, band_key) rows for LSH bucketing, with the
    * short-signature guard woven into the sig column (a free-standing
    * check column would be pruned away unevaluated): a signature
    * shorter than bands*rowsPerBand would slice to EMPTY band arrays,
    * hashing every doc into one shared bucket and silently degrading
    * the bucket join to O(n²). */
  private def lshBands(sigs: DataFrame, idCol: String,
                       bands: Int, rowsPerBand: Int): DataFrame = {
    val guarded = sigs.withColumn("sig",
      when(assert_true(size(col("sig")) >= lit(bands * rowsPerBand),
          lit(s"minhash signature shorter than bands*rowsPerBand = ${bands * rowsPerBand}"))
        .isNull, col("sig")))
    guarded.select(
        col(idCol), posexplode(
          array((0 until bands).map(bi =>
            slice(col("sig"), bi * rowsPerBand + 1, rowsPerBand)): _*)))
      .select(col(idCol), col("pos").as("band_idx"), hash(col("col")).as("band_key"))
  }

  /** LSH banding: split the signature into `bands` bands of
    * `rowsPerBand`, bucket on (band index, band hash), self-join
    * within buckets → distinct candidate pairs (idA < idB). */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
                        bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val banded = lshBands(sigs, idCol, bands, rowsPerBand)
    val left = banded.select(col(idCol).as("id_a"), col("band_idx"), col("band_key"))
    val right = banded.select(col(idCol).as("id_b"), col("band_idx"), col("band_key"))
    left.join(right, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Bipartite LSH candidates: bucket-join LEFT signatures against
    * RIGHT signatures only — the incremental-dedup shape, where the
    * corpus must never self-join (its within-bucket pairs would
    * dominate the candidate cost at any realistic corpus:increment
    * ratio). Emits distinct (id_a from left, id_b from right). */
  def lshCandidatePairsAcross(sigsLeft: DataFrame, sigsRight: DataFrame,
                              idCol: String, bands: Int = 4,
                              rowsPerBand: Int = 4): DataFrame = {
    val l = lshBands(sigsLeft, idCol, bands, rowsPerBand)
      .select(col(idCol).as("id_a"), col("band_idx"), col("band_key"))
    val r = lshBands(sigsRight, idCol, bands, rowsPerBand)
      .select(col(idCol).as("id_b"), col("band_idx"), col("band_key"))
    l.join(r, Seq("band_idx", "band_key"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the
    * distinct shingle-hash sets (declarative: two joins + one
    * intersection count per pair, Catalyst plans the shuffles). */
  def verifyJaccard(pairs: DataFrame, df: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 3): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, shingleN)
      .select(col(idCol).as("_vid"), col("_shingles").as("_set"))
    // shingle arrays are sorted-distinct by construction, so the
    // intersection count comes from the native zero-allocation merge
    // scan (plans/IntersectSizeSorted) rather than array_intersect's
    // per-row hash set + materialized intersection
    val interSize = call_function("graft_intersect_size", col("set_a"), col("set_b"))
    pairs
      .join(sets.withColumnRenamed("_vid", "id_a").withColumnRenamed("_set", "set_a"), "id_a")
      .join(sets.withColumnRenamed("_vid", "id_b").withColumnRenamed("_set", "set_b"), "id_b")
      .withColumn("intersection_size", interSize)
      .withColumn("union_size",
        size(col("set_a")) + size(col("set_b")) - col("intersection_size"))
      .withColumn("jaccard",
        (col("intersection_size").cast("double") / col("union_size")).cast("double"))
      .drop("set_a", "set_b")
  }

  /** 64-bit SimHash per document: per-token 64-bit hash, each bit
    * contributes ±1, sign of the per-bit sum forms the fingerprint.
    * Typed kernel (same escalation rationale as minhash). */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val counts = new Array[Int](64)
        text.trim.toLowerCase.split(" +").foreach { t =>
          val h = hash64(t)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        var sig = 0L
        var b = 0
        while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
        (id, sig)
      })
      .toDF(idCol, "simhash")
  }

  /** SimHash near-dup candidates: bucket on 8-bit chunks — by
    * pigeonhole, two fingerprints within Hamming distance d <= 7
    * share at least one of the 8 chunks unchanged, so recall is
    * GUARANTEED for maxHamming <= 7; verify with bit_count(xor). */
  /** Connected components over near-dup pairs — the clustering step
    * between pair detection and canonical-survivor selection: every
    * vertex converges to the minimum doc id reachable from it, so
    * cluster ids are deterministic and the survivor (id == cluster
    * id) falls out with no extra pass.
    *
    * Algorithm: iterative min-label propagation. Each round is one
    * keyed shuffle (union + groupBy min); a lineage cut per round
    * keeps plans flat across iterations (see [[cut]] — reliable
    * `checkpoint()` when a checkpoint dir is configured, executor-
    * local truncation otherwise). Rounds needed = component diameter —
    * near-dup clusters are shallow chains by construction, so this
    * converges in a handful of rounds. If `maxIter` rounds pass
    * without convergence (a genuinely deep component), the loop falls
    * back to [[starContraction]], which converges in O(log n)
    * alternating rounds regardless of diameter.
    */
  def connectedComponents(edges: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    // symmetrize with ONE scan of `edges` (explode, not self-union):
    // callers often pass an expensive unmaterialized chain (q105 hands
    // the whole LSH+verify pipeline here), and a union would compute
    // it twice before the first lineage cut
    val sym = cut(edges.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    // seed = round 1 for free: with identity labels, the first round's
    // messages are just the edges, so min(id, min(neighbors)) IS the
    // post-round-1 state — one groupBy instead of distinct + join
    var labels = cut(sym.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), col("src")).as("label")))
    // each round takes a per-id MIN, so labels are monotonically
    // non-increasing — the exact decimal label sum is unchanged iff
    // NO label moved, making convergence one cheap agg over the
    // just-checkpointed frame instead of a join-diff job
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val next = cut(labels.select("id", "label").union(msgs)
        .groupBy("id").agg(min("label").as("label")))
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      i += 1
    }
    if (converged) labels.withColumnRenamed("label", "cluster_id")
    else {
      // component diameter exceeds maxIter: per-round propagation
      // would need O(diameter) more shuffles, so switch to the
      // diameter-independent algorithm instead of failing
      Console.err.println(s"[graft] connectedComponents: not converged " +
        s"after $maxIter label-propagation rounds; falling back to star contraction")
      starContraction(sym)
    }
  }

  /** Lineage cut between iterative-loop rounds. Default is
    * `localCheckpoint` — truncation into executor memory/disk, fast
    * but NOT fault-tolerant: an executor loss mid-loop kills the job.
    * Right for local mode and short jobs. A long-running job on a
    * real cluster should call
    * `spark.sparkContext.setCheckpointDir("hdfs://…")` first: every
    * cut then becomes a reliable `checkpoint()` to the fault-tolerant
    * store and the loop survives executor churn. */
  private def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014): each round hangs every node off the
    * minimum of its neighborhood, which at least halves tree heights —
    * O(log n) rounds to reach the fixed point (one star per component,
    * centered at the component's min id) regardless of diameter.
    * Costs one distinct per half-round, so min-label propagation is
    * preferred for the shallow graphs near-dup clustering produces;
    * this is the deep-graph path. Input: symmetric (src, dst) edges.
    * Output: (id, cluster_id = min member id), matching
    * [[connectedComponents]]. */
  def starContraction(sym: DataFrame, maxRounds: Int = 60): DataFrame = {
    val nodes = cut(sym.select(col("src").as("id")).distinct())
    var cur = cut(sym.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo")).distinct())
    var done = false
    var r = 0
    while (!done && r < maxRounds) {
      val next = cut(smallStar(largeStar(cur)))
      // stars are the unique fixed point, so set-equality is the
      // convergence test; counts first makes the common "still
      // shrinking" rounds cheap
      done = next.count() == cur.count() && next.exceptAll(cur).isEmpty
      cur = next
      r += 1
    }
    // O(log n) convergence is a theorem; the cap is a runaway guard
    require(done, s"starContraction did not converge in $maxRounds rounds")
    val starLabels = cur.groupBy(col("hi").as("id")).agg(min("lo").as("cluster_id"))
    nodes.join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Large-star round: every node u connects each STRICTLY LARGER
    * neighbor v to m = min(N(u) ∪ {u}). Output stays canonical
    * (hi > lo) and self-loop-free since v > u ≥ m. */
  private def largeStar(canon: DataFrame): DataFrame = {
    val sym = canon.select(col("hi").as("u"), col("lo").as("v"))
      .union(canon.select(col("lo").as("u"), col("hi").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(mins, "u").filter(col("v") > col("u"))
      .select(col("v").as("hi"), col("m").as("lo")).distinct()
  }

  /** Small-star round: every node u connects its smaller neighbors
    * (and itself) to m = min of those neighbors ∪ {u}. Operates on
    * canonical pairs directly — u's smaller neighborhood is exactly
    * its `lo` rows. */
  private def smallStar(canon: DataFrame): DataFrame = {
    val mins = canon.groupBy("hi").agg(min("lo").as("m"))
    canon.join(mins, "hi")
      .select(col("lo").as("x"), col("m"))
      .union(mins.select(col("hi").as("x"), col("m")))
      .filter(col("x") =!= col("m"))
      .select(col("x").as("hi"), col("m").as("lo")).distinct()
  }

  def simhashNearDups(sigs: DataFrame, idCol: String, maxHamming: Int = 7): DataFrame = {
    val chunked = sigs.select(col(idCol), col("simhash"),
        posexplode(array((0 until 8).map(j =>
          shiftright(col("simhash"), j * 8).bitwiseAND(0xFF)): _*)))
      .select(col(idCol), col("simhash"), col("pos").as("chunk_idx"), col("col").as("chunk"))
    val l = chunked.select(col(idCol).as("id_a"), col("simhash").as("sim_a"),
      col("chunk_idx"), col("chunk"))
    val r = chunked.select(col(idCol).as("id_b"), col("simhash").as("sim_b"),
      col("chunk_idx"), col("chunk"))
    l.join(r, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
  }
}
