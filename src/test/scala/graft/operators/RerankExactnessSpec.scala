package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-budget exactness of the shared re-rank tail: with every
  * shortlist at least the corpus size and every IVF list probed, each
  * compressed ANN variant must return EXACTLY the top-k of its re-rank
  * metric — the same rows, ranks and scores, ties included. The
  * recall specs in SimilaritySpec only bound how close a tight budget
  * gets; this pins what the tail itself does.
  *
  * The corpus is the fixture plus an exact copy of every 7th vector
  * under a new id, so top-k lists hold exact score ties that only the
  * (score, vec_id ascending) tie-break settles. The references are
  * computed on the driver from the collected vectors with the engine's
  * integer and double arithmetic, independent of Spark's windows:
  * integer L2 for the PQ family, cosine over exact norms² for the rest
  * (bruteForceTopK must match it, and the cosine variants must match
  * bruteForceTopK). */
class RerankExactnessSpec extends SparkSpec {
  import spark.implicits._

  private val k = 5

  private lazy val corpus: DataFrame = {
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), Similarity.quantize(col("embedding")).as("query_vec"))
    base.unionByName(base.filter(col("vec_id") % 7 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)).cache()
  }

  private lazy val queries: DataFrame = corpus.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))

  /** Every shortlist in these tests keeps the whole corpus. */
  private lazy val n: Int = corpus.count().toInt

  private type Row4 = (Long, Int, Long, Double)

  /** The exact top-k of every query by `score` (higher first unless
    * `ascending`), then vec_id ascending, self excluded. */
  private def reference(ascending: Boolean)(score: (Array[Long], Array[Long]) => Double): Set[Row4] = {
    val vecs = corpus.select("vec_id", "query_vec").as[(Long, Seq[Long])].collect()
      .map { case (id, v) => (id, v.toArray) }
    import Ordering.Double.TotalOrdering
    val qs = queries.as[(Long, Seq[Long])].collect()
    qs.flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid)
        .map { case (id, cv) => (id, score(cv, qv.toArray)) }
        .sortBy { case (id, s) => (if (ascending) s else -s, id) }
        .take(k).zipWithIndex
        .map { case ((id, s), i) => (qid, i + 1, id, s) }
    }.toSet
  }

  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => a(i) * b(i)).sum

  private lazy val exactL2: Set[Row4] = reference(ascending = true) { (c, q) =>
    c.indices.map(i => (c(i) - q(i)) * (c(i) - q(i))).sum.toDouble
  }

  // the engine's arithmetic: dot / sqrt(n2q · n2c), each long cast to double
  private lazy val exactCosine: Set[Row4] = reference(ascending = false) { (c, q) =>
    dot(c, q).toDouble / math.sqrt(dot(q, q).toDouble * dot(c, c).toDouble)
  }

  private def rows(df: DataFrame, score: String): Set[Row4] =
    df.select(col("query_id"), col("rank"), col("vec_id"), col(score).cast("double"))
      .as[Row4].collect().toSet

  private def hasTie(ref: Set[Row4]): Boolean =
    ref.groupBy(_._1).values.exists(r => r.map(_._4).size < r.size)

  test("the references hold exact ties inside the top-k") {
    assert(hasTie(exactL2), "no L2 tie in any top-k: the corpus copies did not land")
    assert(hasTie(exactCosine), "no cosine tie in any top-k: the corpus copies did not land")
  }

  test("bruteForceTopK is the exact cosine top-k") {
    assert(rows(Similarity.bruteForceTopK(corpus, queries, k), "cosine") === exactCosine)
  }

  test("pqTopK, ivfPqTopK and ivfPqResidualTopK at full budget are the exact L2 top-k") {
    assert(rows(Similarity.pqTopK(corpus, queries, k, shortlist = n), "l2_dist") === exactL2)
    assert(rows(Similarity.ivfPqTopK(corpus, queries, k, numCentroids = 16, nprobe = 16,
      ks = 16, m = 4, dim = 64, shortlist = n), "l2_dist") === exactL2)
    assert(rows(Similarity.ivfPqResidualTopK(corpus, queries, k, numCentroids = 16,
      nprobe = 16, ks = 16, m = 4, dim = 64, shortlist = n), "l2_dist") === exactL2)
  }

  test("truncatedTopK, binaryTopK, funnelTopK and ivfTopK at full budget are the exact cosine top-k") {
    val exact = rows(Similarity.bruteForceTopK(corpus, queries, k), "cosine")
    assert(rows(Similarity.truncatedTopK(corpus, queries, k, headDim = 16, shortlist = n),
      "cosine") === exact)
    assert(rows(Similarity.binaryTopK(corpus, queries, k, shortlist = n), "cosine") === exact)
    assert(rows(Similarity.funnelTopK(corpus, queries, k, hammingShortlist = n, rerank = n),
      "cosine") === exact)
    assert(rows(Similarity.ivfTopK(corpus, queries, k, numCentroids = 16, nprobe = 16),
      "cosine") === exact)
  }
}
