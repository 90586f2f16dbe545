package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic (embedding-space) deduplication: k-means clustering over
  * the corpus embeddings, then near-duplicate detection WITHIN each
  * cluster only — the SemDeDup recipe (Abbas et al., "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication",
  * arXiv 2303.09540). Clustering bounds the quadratic pair term by
  * cluster size, the same way LSH banding bounds MinHash dedup.
  *
  * Determinism/oracle design: all arithmetic runs on the quantized
  * integer vectors (see [[Similarity.quantize]]). Centroids are kept
  * as element-wise integer SUM vectors — cosine similarity is scale
  * invariant, so scoring against the sum IS scoring against the mean,
  * and every partial sum stays integer-exact (< 2^53) in any engine.
  * Initial centroids are the k corpus rows with the smallest
  * md5(vec_id) (the engine-portable pseudo-random draw used by IVF).
  *
  * Scale design: each Lloyd iteration is one scan-speed assignment
  * projection (argmax over k codegen'd dot products — no join, no
  * corpus shuffle) plus one bounded aggregation whose shuffle carries
  * k×dim partial sums per task, then a k-row collect (the codebook is
  * the model — tiny by construction, exactly like shipping an IVF
  * codebook). The within-cluster pair join shuffles on cluster id;
  * at 100 TB, k grows with the corpus (k ≈ n / targetClusterSize) so
  * per-cluster pair counts stay bounded, and a hot cluster can be
  * salted like any other skewed join key.
  */
object SemanticDedup {

  /** One Lloyd iteration under cosine distance: assign each vector to
    * its nearest centroid (ties → smallest cid), then rebuild each
    * non-empty cluster's centroid as the element-wise integer sum of
    * its members. Returns the new (cid, sumVector) codebook.
    */
  def lloydStep(corpus: DataFrame,
                cents: Array[(Long, Array[Long])]): Array[(Long, Array[Long])] = {
    corpus
      .withColumn("cid", Similarity.ivfAssign(col("query_vec"), cents))
      .select(col("cid"), posexplode(col("query_vec")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("col")).as("s"))
      .groupBy(col("cid"))
      // rebuild the vector in position order: array_sort on
      // struct(pos, s) orders by pos (unique), then project s back out
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("cv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
  }

  /** Driver-side centroid ceiling: the codebook is collect()ed to the
    * driver and shipped back as ONE plan literal (the Janino-safe
    * array-of-structs shape, see Similarity.pqCbLit), so k is bounded
    * by driver memory and serialized-plan size — NOT by the corpus.
    * Size k ≈ √n for balanced expected cluster sizes (n=10^8 → k=10^4,
    * ~5 MB of 64-dim long literals, fine; n=10^12 wants k=10^6, which
    * is not a plan literal any more). Past this ceiling, keep the
    * codebook as a TABLE and assign via a keyed join against
    * band-bucketed candidates instead of a broadcast literal. */
  val MaxDriverCentroids = 10000

  /** Run `iters` Lloyd iterations from the md5-picked initial
    * codebook and return the final (cid, sumVector) centroids. */
  def kmeans(corpus: DataFrame, k: Int, iters: Int): Array[(Long, Array[Long])] = {
    require(k <= MaxDriverCentroids,
      s"k=$k exceeds the driver-codebook ceiling $MaxDriverCentroids " +
        "(collect+literal path; use assignByJoin with a codebook table at this scale)")
    var cents = Similarity.ivfCentroids(corpus, k)
    (0 until iters).foreach(_ => cents = lloydStep(corpus, cents))
    cents
  }

  /** The implemented beyond-[[MaxDriverCentroids]] path: nearest-
    * centroid assignment against a codebook TABLE (cid, cv) instead
    * of a plan literal. The codebook ships once per executor as a
    * broadcast relation (no per-task serialized-plan blowup, no
    * Janino ceiling); scoring streams through codegen; the argmax is
    * a lexicographic max of struct(score, -cid) — bit-identical
    * semantics to [[Similarity.ivfAssign]] (same exact integer dot,
    * same sqrt, ties → smallest cid), which the spec pins.
    *
    * Cost vs the literal path: the n×k scored stream never
    * materializes, but the per-vector argmax is one extra keyed
    * shuffle of n (vec_id, partial-max) rows, and the caller joins
    * the (vec_id, cluster) assignment back to the corpus — the price
    * of a codebook too big to inline. Returns (vec_id, cluster). */
  def assignByJoin(corpus: DataFrame, cents: DataFrame): DataFrame = {
    corpus.select(col("vec_id"), col("query_vec"))
      .join(broadcast(cents.select(col("cid"), col("cv"))))
      .withColumn("_score",
        Similarity.dotFast(col("query_vec"), col("cv")).cast("double") /
          sqrt(Similarity.dotFast(col("cv"), col("cv")).cast("double")))
      .groupBy(col("vec_id"))
      .agg((-max(struct(col("_score").as("s"), (-col("cid")).as("n")))
        .getField("n")).as("cluster"))
  }

  /** Cluster the corpus, then flag every vector that has a SMALLER-id
    * member of the same cluster with cosine ≥ tau as a semantic
    * duplicate of the smallest such id (keep-first survivorship —
    * deterministic, and transitive chains keep exactly the min-id
    * representative of each dense neighborhood).
    *
    * Output: (vec_id, cluster, is_semdup, dup_of) — dup_of null for
    * survivors.
    */
  def semdup(corpus: DataFrame, k: Int, iters: Int, tau: Double): DataFrame = {
    val cents = kmeans(corpus, k, iters)
    val assigned = corpus
      .withColumn("cluster", Similarity.ivfAssign(col("query_vec"), cents))
      .withColumn("_n2", Similarity.dotFast(col("query_vec"), col("query_vec")))
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("query_vec").as("va"), col("_n2").as("n2a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("query_vec").as("vb"), col("_n2").as("n2b"))
    // within-cluster pairs only: the equi-join on cluster id is the
    // whole point — the quadratic term is bounded by cluster size
    val dups = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosineOnNorms(col("va"), col("vb"),
        col("n2b"), col("n2a")))
      .filter(col("cosine") >= tau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"))
    assigned.select(col("vec_id"), col("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNotNull.as("is_semdup"), col("dup_of"))
  }
}
