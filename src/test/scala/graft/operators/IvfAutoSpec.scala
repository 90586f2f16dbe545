package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** q226's auto-scaled IVF: the graft_ivf_top expression's ranking
  * semantics against a plain-Scala reference, the `ivfAssign` /
  * `ivfProbes` projections built on it, and their null contract. */
class IvfAutoSpec extends SparkSpec {
  import spark.implicits._

  // Reference: score every centroid, stable-sort by (score desc,
  // index asc), take p — the spec the insertion-sort codegen must
  // meet, including duplicate scores and p >= k.
  private def reference(vec: Seq[Long], book: Seq[Seq[Long]], aux: Seq[Double],
                        p: Int, l2: Boolean): Seq[Int] =
    book.indices
      .map { c =>
        val dot = vec.zip(book(c)).map { case (a, b) => a * b }.sum
        val score = if (l2) 2.0 * dot - aux(c) else dot.toDouble / aux(c)
        (c, score)
      }
      .sortBy { case (c, score) => (-score, c) }
      .take(p).map(_._1)

  private def top(vec: Seq[Long], codebook: Seq[Seq[Long]],
                  norms: Seq[Double], p: Int): Seq[Int] =
    Seq(Tuple1(vec)).toDF("v")
      .select(call_function("graft_ivf_top",
        typedLit(vec), typedLit(codebook), typedLit(norms), lit(p)).as("r"))
      .head.getSeq[Int](0).toSeq

  test("graft_ivf_top ranks by dot/norm desc, ties to the smaller index") {
    val book = Seq(Seq(1L, 0L), Seq(0L, 1L), Seq(1L, 1L))
    val norms = Seq(1.0, 1.0, math.sqrt(2.0))
    // v=(1,0): scores 1.0, 0.0, 1/sqrt2 -> top2 = [0, 2]
    assert(top(Seq(1L, 0L), book, norms, 2) === Seq(0, 2))
    // v=(1,1): c2 wins at sqrt(2); c0 and c1 tie at 1.0 -> smaller
    // index first among the tied
    assert(top(Seq(1L, 1L), book, norms, 3) === Seq(2, 0, 1))
    // p beyond k truncates to k
    assert(top(Seq(1L, 0L), book, norms, 9).length === 3)
    // p=1 is the assignment case
    assert(top(Seq(0L, 5L), book, norms, 1) === Seq(1))
  }

  test("graft_ivf_top codegen path agrees with the interpreted path") {
    // column input defeats constant folding -> whole-stage codegen;
    // the literal-only calls above folded through nullSafeEval
    val book = Seq(Seq(3L, -1L, 2L), Seq(-2L, 4L, 1L), Seq(0L, 0L, 5L))
    val norms = book.map(c => math.sqrt(c.map(x => x * x).sum.toDouble))
    val vecs = Seq(Seq(1L, 2L, 3L), Seq(-5L, 1L, 0L), Seq(2L, 2L, 2L))
    val viaCol = vecs.map(Tuple1(_)).toDF("v")
      .select(call_function("graft_ivf_top", col("v"),
        typedLit(book), typedLit(norms), lit(2)).as("r"))
      .collect().map(_.getSeq[Int](0).toSeq).toSeq
    val viaLit = vecs.map(v => top(v, book, norms, 2))
    assert(viaCol === viaLit)
  }

  test("graft_ivf_top_l2 ranks by ascending L2 distance, ties to the smaller index") {
    def topL2(vec: Seq[Long], codebook: Seq[Seq[Long]], p: Int): Seq[Int] =
      Seq(Tuple1(vec)).toDF("v")
        .select(call_function("graft_ivf_top_l2",
          typedLit(vec), typedLit(codebook),
          typedLit(codebook.map(c => c.map(x => x * x).sum.toDouble)), lit(p)).as("r"))
        .head.getSeq[Int](0).toSeq
    val book = Seq(Seq(1L, 0L), Seq(0L, 1L), Seq(3L, 3L))
    // v=(2,2): d² to c0 = 1+4 = 5, c1 = 4+1 = 5, c2 = 1+1 = 2
    // -> c2 first, then the c0/c1 tie resolves to the smaller index
    assert(topL2(Seq(2L, 2L), book, 3) === Seq(2, 0, 1))
    // v=(0,0): d² = 1, 1, 18 -> tie at the top, smaller index wins
    assert(topL2(Seq(0L, 0L), book, 2) === Seq(0, 1))
  }

  test("ivfAssign and ivfProbes in L2 mode match the plain-Scala reference") {
    val c = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("query_vec"))
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    val numC = math.ceil(math.sqrt(c.count().toDouble)).toInt
    val cents = Similarity.ivfCentroids(c, numC)
    // the reference ranks codebook indices; cid order is index order
    val sorted = cents.sortBy(_._1)
    val book = sorted.map(_._2.toSeq).toSeq
    val aux = book.map(cv => cv.map(x => x * x).sum.toDouble)
    def refCids(v: Seq[Long], p: Int): Seq[Long] =
      reference(v, book, aux, p, l2 = true).map(i => sorted(i)._1)
    val vecs = c.as[(Long, Seq[Long])].collect().toMap
    val assigned = c.select(col("vec_id"),
        Similarity.ivfAssign(col("query_vec"), cents, l2 = true).as("cid"))
      .as[(Long, Long)].collect().toMap
    assert(assigned === vecs.map { case (id, v) => id -> refCids(v, 1).head })
    val probes = Similarity.ivfProbes(q, cents, nprobe = 4, l2 = true)
      .select("query_id", "cid").as[(Long, Long)].collect().sorted.toSeq
    val want = q.as[(Long, Seq[Long])].collect()
      .flatMap { case (id, v) => refCids(v, 4).map(id -> _) }.sorted.toSeq
    assert(probes === want)
    assert(probes.nonEmpty)
  }

  test("null vectors get a null cid and no probe rows, in both modes") {
    val cents = Array(1L -> Array(1L, 0L), 2L -> Array(0L, 1L))
    val vecs = Seq((1L, Some(Seq(3L, 1L))), (2L, None)).toDF("vec_id", "query_vec")
    val qs = vecs.select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    for (l2 <- Seq(false, true)) {
      val cids = vecs.select(col("vec_id"),
          Similarity.ivfAssign(col("query_vec"), cents, l2).as("cid"))
        .orderBy("vec_id").collect().map(r => Option(r.get(1))).toSeq
      assert(cids === Seq(Some(1L), None), s"l2=$l2")
      val probed = Similarity.ivfProbes(qs, cents, nprobe = 2, l2 = l2)
        .select("query_id").as[Long].collect().toSeq
      assert(probed === Seq(1L, 1L), s"l2=$l2")
    }
  }

  test("property: graft_ivf_top matches a plain-Scala reference on random inputs (both modes)") {
    // deterministic LCG so failures replay
    var seed = 0xabcdef12L
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    (1 to 40).foreach { _ =>
      val d = 1 + next(6)
      val k = 1 + next(9)
      val p = 1 + next(12) // deliberately often > k
      // small value range forces frequent duplicate scores (tie law)
      def v() = Seq.fill(d)((next(5) - 2).toLong)
      val book = Seq.fill(k)(v())
      val vecs = Seq.fill(3)(v())
      for (l2 <- Seq(false, true)) {
        val aux =
          if (l2) book.map(c => c.map(x => x * x).sum.toDouble)
          else book.map(c => math.sqrt(c.map(x => x * x).sum.toDouble).max(1e-12))
        val fn = if (l2) "graft_ivf_top_l2" else "graft_ivf_top"
        val got = vecs.map(Tuple1(_)).toDF("v")
          .select(call_function(fn, col("v"),
            typedLit(book), typedLit(aux), lit(p)).as("r"))
          .collect().map(_.getSeq[Int](0).toSeq).toSeq
        val want = vecs.map(vec => reference(vec, book, aux, p, l2))
        assert(got === want,
          s"mode l2=$l2 d=$d k=$k p=$p book=$book vecs=$vecs")
      }
    }
  }

  test("ivfTopKAuto matches ivfTopK at a sqrt(n) codebook") {
    val c = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("query_vec"))
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    val numC = math.ceil(math.sqrt(c.count().toDouble)).toInt
    assert(spark.catalog.functionExists("graft_ivf_top"), "extension not loaded")
    val auto = Similarity.ivfTopKAuto(c, q, k = 5, nprobe = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val ref = Similarity.ivfTopK(c, q, k = 5, numCentroids = numC, nprobe = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(auto.nonEmpty)
    assert(auto === ref)
  }

  test("an out-of-range p fails alike spelled as an Int or a Long literal") {
    val probe = Seq((Seq(1L, 2L), Seq(Seq(1L, 0L)), Seq(1.0))).toDF("v", "book", "norms")
    Seq("graft_ivf_top", "graft_ivf_top_l2").foreach { fn =>
      graft.plans.LiteralSpelling.assertFailAlike(
        p => probe.select(expr(s"$fn(v, book, norms, $p)")), "0", "p must be >= 1, got 0")
    }
  }
}
