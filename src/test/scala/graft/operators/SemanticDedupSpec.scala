package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic dedup: clustering invariants, duplicate flagging, and the
  * scale claim that pair scoring stays within clusters. */
class SemanticDedupSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    // three tight groups along distinct axes + one planted near-dup
    // pair inside the first group (ids 0/1 nearly parallel)
    val rows = Seq(
      (0L, Array.tabulate(8)(i => if (i == 0) 1000L else 10L)),
      (1L, Array.tabulate(8)(i => if (i == 0) 990L else 11L)),
      (2L, Array.tabulate(8)(i => if (i == 0) 800L else -200L)),
      (10L, Array.tabulate(8)(i => if (i == 1) 1000L else 5L)),
      (11L, Array.tabulate(8)(i => if (i == 1) 950L else -40L)),
      (20L, Array.tabulate(8)(i => if (i == 2) 1000L else 0L)),
      (21L, Array.tabulate(8)(i => if (i == 2) 970L else 30L)))
    rows.toDF("vec_id", "query_vec")
  }

  test("kmeans converges to stable non-empty clusters") {
    val cents = SemanticDedup.kmeans(corpus, k = 3, iters = 2)
    assert(cents.length <= 3 && cents.nonEmpty)
    // every centroid is the integer sum of its members: re-running a
    // step from the converged codebook must be a fixed point here
    val again = SemanticDedup.lloydStep(corpus, cents)
    assert(again.map(_._2.toSeq).toSet == cents.map(_._2.toSeq).toSet)
  }

  test("semdup flags the planted near-parallel pair, keep-first survivor") {
    val out = SemanticDedup.semdup(corpus, k = 3, iters = 2, tau = 0.98)
      .orderBy("vec_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getBoolean(2), "vec 1 should be flagged as dup of 0")
    assert(byId(1L).getLong(3) == 0L)
    assert(!byId(0L).getBoolean(2), "smallest id survives")
    // distinct-direction vectors stay unflagged at a tight threshold
    assert(!byId(10L).getBoolean(2) && !byId(20L).getBoolean(2))
  }

  test("semdup output is independent of input partitioning") {
    def run(parts: Int) =
      SemanticDedup.semdup(corpus.repartition(parts), k = 3, iters = 2, tau = 0.98)
        .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(run(1) == run(7))
  }

  test("pairs are scored within clusters only (cross-cluster dup invisible)") {
    // two identical vectors forced into different clusters by k=corpus
    // size never pair; with k=1 they do — the bound is the cluster
    val twin = {
      import spark.implicits._
      Seq((0L, Array(1000L, 0L)), (1L, Array(1000L, 1L)),
        (2L, Array(-1000L, 0L)), (3L, Array(0L, -1000L)))
        .toDF("vec_id", "query_vec")
    }
    val oneCluster = SemanticDedup.semdup(twin, k = 1, iters = 1, tau = 0.99)
      .filter(col("is_semdup")).collect()
    assert(oneCluster.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("assignByJoin (codebook-as-table scale path) matches the literal-codebook assignment") {
    import spark.implicits._
    // a REAL corpus slice, so scores include ties-adjacent values and
    // negative components — not just the synthetic fixture
    val real = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("query_vec"))
    val cents = Similarity.ivfCentroids(real, 16)
    val viaLiteral = real
      .withColumn("cluster", Similarity.ivfAssign(col("query_vec"), cents))
      .select(col("vec_id"), col("cluster"))
      .as[(Long, Long)].collect().toMap
    val centTable = cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv")
    def viaJoin(parts: Int) =
      SemanticDedup.assignByJoin(real.repartition(parts), centTable)
        .as[(Long, Long)].collect().toMap
    assert(viaJoin(2) == viaLiteral,
      "table-join assignment must be bit-identical to the plan-literal path")
    assert(viaJoin(7) == viaLiteral, "and independent of input partitioning")
  }

  test("driver-codebook ceiling guard fires before any cluster work") {
    val e = intercept[IllegalArgumentException] {
      SemanticDedup.kmeans(corpus, k = SemanticDedup.MaxDriverCentroids + 1, iters = 1)
    }
    assert(e.getMessage.contains("ceiling"))
  }
}
