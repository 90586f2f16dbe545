package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def quantized = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("label"),
      Similarity.quantize(col("embedding")).as("query_vec"))

  private def queries = quantized.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))

  test("brute-force top-k: k results per query, cosine within [-1,1], self excluded") {
    val res = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
    val perQuery = res.groupBy(_._1)
    assert(perQuery.values.forall(_.length == 5))
    assert(res.forall { case (q, v, c) => q != v && c >= -1.0001 && c <= 1.0001 })
  }

  test("cosine of a vector with itself is 1") {
    val c = quantized.limit(3)
      .withColumn("self_cos", Similarity.cosineQ(col("query_vec"), col("query_vec")))
      .select("self_cos").as[Double].collect()
    assert(c.forall(v => math.abs(v - 1.0) < 1e-12))
  }

  test("SQ8 ADC (q265) recall vs exact: 8-bit per-dim codes are near-lossless") {
    val exact = graft.queries.SimilarityOps.q49CosineTopK(spark, sfDir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val sq8 = graft.queries.SimilarityOps.q265Sq8Ann(spark, sfDir)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & sq8).size.toDouble / exact.size
    info(f"SQ8 ADC recall@5 = $recall%.3f over ${exact.size} exact pairs")
    assert(recall >= 0.9, f"8-bit scalar quantization lost too much: $recall%.3f")
  }

  test("ANN recall vs brute force is reasonable (SRP-LSH 8 bands × 4 bits)") {
    val ps = Similarity.planes(32, 64)
    val bf = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(quantized, queries, k = 5, ps, bands = 8, bitsPerBand = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ann).size.toDouble / bf.size
    info(f"ANN recall@5 = $recall%.3f (candidates only from shared LSH buckets)")
    assert(recall >= 0.3)
  }

  test("multi-probe LSH recall beats single-probe on the same index") {
    val ps = Similarity.planes(32, 64)
    val bf = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recallOf(probes: Int) = {
      val ann = Similarity.annTopK(quantized, queries, k = 5, ps,
        bands = 8, bitsPerBand = 4, multiProbe = probes)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (bf & ann).size.toDouble / bf.size
    }
    val single = recallOf(0)
    val multi = recallOf(4)
    info(f"recall@5 single-probe $single%.3f -> multi-probe $multi%.3f")
    assert(multi >= single)
    assert(multi >= 0.5)
  }

  test("auto-scaled SRP: bits track corpus size; recall stays reasonable") {
    // the integer resolution rule at decade boundaries
    assert(Similarity.autoBits(200) === 4)      // 5 buckets needed
    assert(Similarity.autoBits(2000) === 6)     // 50 -> 2^6
    assert(Similarity.autoBits(20000) === 9)    // 500 -> 2^9
    assert(Similarity.autoBits(20000000) === 16) // clamped at maxBits
    // the two-tier 256-plane pool lifts the cap to 32: occupancy 40
    // holds at 20M vectors (19 bits) instead of pinning at 16
    assert(Similarity.autoBits(20000000, maxBits = 32) === 19)
    assert(Similarity.autoBits(Long.MaxValue / 2, maxBits = 32) === 32)
    val bf = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopKAuto(quantized, queries, k = 5,
      Similarity.planes(128, 64))
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ann).size.toDouble / bf.size
    info(f"auto-scaled SRP recall@5 = $recall%.3f")
    assert(recall >= 0.3)
  }

  test("tiered plane pool: prefix-stable, legacy slices below 17 bits, results invariant") {
    val pool128 = Similarity.planes(128, 64)
    val pool256 = Similarity.planes(256, 64)
    // the seeded generator is prefix-stable: tier 0 IS the old pool,
    // so every committed small-scale result survives the pool upgrade
    assert(pool256.take(128).zip(pool128).forall { case (a, b) => a.sameElements(b) })
    // for bits <= blockBits the tiered slice reproduces the legacy
    // single-tier mapping plane for plane
    for (bits <- Seq(4, 9, 16)) {
      val legacy = Array.tabulate(8 * bits)(i => pool128((i / bits) * 16 + (i % bits)))
      val tiered = Similarity.srpPoolSlice(pool256, bands = 8, blockBits = 16, bits)
      assert(tiered.zip(legacy).forall { case (a, b) => a.sameElements(b) })
    }
    // past the old cap, band b's bit j >= 16 draws from tier 1 at the
    // same band offset — each band's planes stay distinct
    val s20 = Similarity.srpPoolSlice(pool256, bands = 8, blockBits = 16, bits = 20)
    assert(s20.length === 8 * 20)
    assert(s20(16).sameElements(pool256(128))) // band 0, bit 16 -> tier 1 offset 0
    assert(s20(20 + 16).sameElements(pool256(128 + 16))) // band 1, bit 16
    // end-to-end: the pool upgrade does not change results at any
    // corpus size that derives bits <= 16 (every test/oracle scale)
    val via128 = Similarity.annTopKAuto(quantized, queries, k = 5, pool128)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    val via256 = Similarity.annTopKAuto(quantized, queries, k = 5, pool256)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    assert(via128 === via256)
  }

  test("IVF: every corpus row lands in a real centroid list; probes per query = nprobe") {
    val cents = Similarity.ivfCentroids(quantized, 8)
    assert(cents.length == 8)
    val cidSet = cents.map(_._1).toSet
    val assigned = quantized
      .withColumn("cid", Similarity.ivfAssign(col("query_vec"), cents))
      .select("cid").as[Long].collect()
    assert(assigned.length == quantized.count())
    assert(assigned.forall(cidSet.contains))
    val probes = Similarity.ivfProbes(queries, cents, nprobe = 3)
      .groupBy("query_id").count().select("count").as[Long].collect()
    assert(probes.forall(_ == 3))
  }

  test("IVF recall vs brute force is reasonable (16 lists, 4 probes)") {
    val bf = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(quantized, queries, k = 5, numCentroids = 16, nprobe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    info(f"IVF recall@5 = $recall%.3f (4 of 16 lists probed = 25%% of corpus scored)")
    assert(recall >= 0.3)
  }

  test("auto-IVF (sqrt(n) lists) and auto-IVFADC recall stay reasonable at a smaller scan budget") {
    val bf = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val flat = Similarity.ivfTopKAuto(quantized, queries, k = 5, nprobe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val flatRecall = (bf & flat).size.toDouble / bf.size
    val numC = math.ceil(math.sqrt(quantized.count().toDouble)).toInt
    info(f"auto-IVF recall@5 = $flatRecall%.3f (4 of $numC lists probed)")
    assert(flatRecall >= 0.3)
    val adc = Similarity.ivfPqResidualTopKAuto(quantized, queries, k = 5,
        nprobe = 4, ks = 16, m = 8, dim = 64, shortlist = 50)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    // ADC recall is vs the exact-L2 ideal the rerank targets; on this
    // cosine ground truth it naturally trails the flat scan — pin a
    // floor, report the measurement
    val adcRecall = (bf & adc).size.toDouble / bf.size
    info(f"auto-IVFADC recall@5 = $adcRecall%.3f (8-byte codes, 50 reranked)")
    assert(adcRecall >= 0.2)
  }

  test("Lloyd-refined auto-IVF codebook vs the raw md5 draw (same probe budget)") {
    val bf = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val numC = math.ceil(math.sqrt(quantized.count().toDouble)).toInt
    def recallOf(cents: Array[(Long, Array[Long])]) = {
      val got = Similarity.ivfSearchWith(quantized, queries, k = 5, nprobe = 4, cents)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (bf & got).size.toDouble / bf.size
    }
    val raw = recallOf(Similarity.ivfCentroids(quantized, numC))
    val lloyd = recallOf(SemanticDedup.kmeans(quantized, numC, iters = 2))
    info(f"auto-IVF recall@5: md5-draw $raw%.3f -> 2x Lloyd $lloyd%.3f")
    // Lloyd tessellates better than random anchors; allow a small
    // sampling wobble but pin that refinement never collapses recall
    assert(lloyd >= raw - 0.05)
    assert(lloyd >= 0.3)
  }

  test("PQ-ADC recall vs exact L2 is reasonable (4 subspaces x 16 codes)") {
    // exact L2 top-5 baseline: ||a-b||^2 = n2a - 2ab + n2b, integer-exact
    val c2 = quantized.withColumn("_n2c",
      Similarity.dotQ(col("query_vec"), col("query_vec")))
    val q2 = queries.withColumn("_n2q", Similarity.dotQ(col("qvec"), col("qvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("l2").asc, col("vec_id").asc)
    val exact = c2.crossJoin(broadcast(q2))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("l2", col("_n2c") - lit(2L) *
        Similarity.dotQ(col("query_vec"), col("qvec")) + col("_n2q"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val pqRows = Similarity.pqTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id", "approx_dist")
      .as[(Long, Long, Long)].collect()
    val pq = pqRows.map(r => (r._1, r._2)).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    info(f"PQ recall@5 = $recall%.3f (4 lookups/pair vs 64-dim dots; 16x compression)")
    assert(recall >= 0.3)
    // ADC distances are sums of squared subspace distances: never negative
    assert(pqRows.forall(_._3 >= 0))
  }

  test("IVF-PQ recall vs exact L2 (4 of 16 lists, 8-byte codes, 50 re-ranked)") {
    val c2 = quantized.withColumn("_n2c",
      Similarity.dotQ(col("query_vec"), col("query_vec")))
    val q2 = queries.withColumn("_n2q", Similarity.dotQ(col("qvec"), col("qvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("l2").asc, col("vec_id").asc)
    val exact = c2.crossJoin(broadcast(q2))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("l2", col("_n2c") - lit(2L) *
        Similarity.dotQ(col("query_vec"), col("qvec")) + col("_n2q"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def run(parts: Int) = Similarity.ivfPqTopK(quantized.repartition(parts), queries,
        k = 5, numCentroids = 16, nprobe = 4, ks = 16, m = 8, dim = 64, shortlist = 50)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val r1 = run(2)
    val recall = (exact & r1).size.toDouble / exact.size
    info(f"IVF-PQ recall@5 = $recall%.3f (25%% of lists scanned AT 8 lookups/pair)")
    // the composed funnel can't beat its own pruning stage: bounded
    // below by what 25%-scan IVF alone achieves minus the PQ loss
    assert(recall >= 0.3)
    assert(run(7) == r1, "IVF-PQ result must not depend on input partitioning")
  }

  test("residual IVF-PQ (IVFADC): recall measured vs raw codes, partition-invariant") {
    val c2 = quantized.withColumn("_n2c",
      Similarity.dotQ(col("query_vec"), col("query_vec")))
    val q2 = queries.withColumn("_n2q", Similarity.dotQ(col("qvec"), col("qvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("l2").asc, col("vec_id").asc)
    val exact = c2.crossJoin(broadcast(q2))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("l2", col("_n2c") - lit(2L) *
        Similarity.dotQ(col("query_vec"), col("qvec")) + col("_n2q"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val got = df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (exact & got).size.toDouble / exact.size
    }
    // FULL probe (all 16 lists) isolates pure CODE quality; the
    // production budget (4 of 16) adds the coarse pruning ceiling
    // (IVF-flat at that budget measures ~0.53). Measured finding,
    // recorded in the operator's scaladoc: residual codes do NOT
    // beat raw codes on THIS corpus (the nearest of 16 stateless-
    // draw centroids in 64 dims barely shrinks residuals, so the
    // raw draw's cluster prior wins) — the numbers are reported
    // here and sanity-bounded, not asserted as a residual victory.
    val rawFull = recallOf(Similarity.ivfPqTopK(quantized, queries,
      k = 5, numCentroids = 16, nprobe = 16, ks = 16, m = 8, dim = 64, shortlist = 50))
    val resFull = recallOf(Similarity.ivfPqResidualTopK(quantized, queries,
      k = 5, numCentroids = 16, nprobe = 16, ks = 16, m = 8, dim = 64, shortlist = 50))
    info(f"full-probe (code quality only): raw $rawFull%.3f, residual $resFull%.3f")
    val raw = recallOf(Similarity.ivfPqTopK(quantized, queries,
      k = 5, numCentroids = 16, nprobe = 4, ks = 16, m = 8, dim = 64, shortlist = 50))
    def res(parts: Int) = Similarity.ivfPqResidualTopK(
      quantized.repartition(parts), queries,
      k = 5, numCentroids = 16, nprobe = 4, ks = 16, m = 8, dim = 64, shortlist = 50)
    val r1 = res(2)
    val residual = recallOf(r1)
    info(f"IVF-PQ recall@5 at nprobe=4: raw $raw%.3f, residual $residual%.3f " +
      f"(same 25%% scan, 8 lookups/pair)")
    // residual ADC must stay a working index (same order of quality
    // as raw), even where it does not win
    assert(resFull >= 0.4 && residual >= 0.3,
      f"residual ADC collapsed: full $resFull%.3f, nprobe4 $residual%.3f")
    assert(res(7).select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      == r1.select("query_id", "vec_id").as[(Long, Long)].collect().toSet,
      "residual IVF-PQ result must not depend on input partitioning")
  }

  test("truncated-dim shortlist recall vs brute-force cosine (16 of 64 dims)") {
    val bf = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val tr = Similarity.truncatedTopK(quantized, queries, k = 5,
      headDim = 16, shortlist = 50)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (bf & tr).size.toDouble / bf.size
    info(f"truncated-dim recall@5 = $recall%.3f (25%% of dot work in the scan stage)")
    assert(recall >= 0.3)
  }

  test("PQ and truncated-dim results are independent of corpus partitioning") {
    def pq(parts: Int) = Similarity.pqTopK(quantized.repartition(parts), queries, k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    def tr(parts: Int) = Similarity.truncatedTopK(quantized.repartition(parts),
      queries, k = 5, headDim = 16, shortlist = 50)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(pq(2) == pq(9))
    assert(tr(2) == tr(9))
  }

  test("binary (sign-bit) ANN recall vs brute-force cosine; codes partition-invariant") {
    val bf = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val bin = Similarity.binaryTopK(quantized, queries, k = 5, shortlist = 50)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (bf & bin).size.toDouble / bf.size
    info(f"binary ANN recall@5 = $recall%.3f (8-byte codes, xor+popcount scan)")
    assert(recall >= 0.3)
    def run(parts: Int) = Similarity.binaryTopK(
      quantized.repartition(parts), queries, k = 5, shortlist = 50)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(run(2) == run(9))
  }

  test("Lloyd-refined PQ codebooks do not lose recall vs the md5 draw") {
    val bf = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recallOf(sub: Array[Array[(Array[Long], Long)]]) = {
      val got = Similarity.pqTopKWith(quantized, queries, k = 5, sub, m = 4,
        dim = 64, shortlist = 50)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (bf & got).size.toDouble / bf.size
    }
    val base = Similarity.pqCodebooks(quantized, ks = 16, m = 4, dim = 64)
    val once = Similarity.pqRefineCodebooks(quantized, base, m = 4, dim = 64)
    val twice = Similarity.pqRefineCodebooks(quantized, once, m = 4, dim = 64)
    val (rBase, rRef) = (recallOf(base), recallOf(twice))
    info(f"PQ recall@5: md5-draw $rBase%.3f -> 2x Lloyd-refined $rRef%.3f")
    assert(rRef >= rBase, "refinement must not lose recall")
  }

  test("funnel ANN: hamming + ADC rescoring clears 0.8 recall at the same exact budget") {
    // q111's configuration: 8 subspaces x 64 codes. The sweep that
    // picked it (md5-draw codebooks, hammingShortlist=150, rerank=50):
    //   ks=16 m=4 0.68 | ks=64 m=4 0.64 | ks=16 m=8 0.73 | ks=64 m=8 0.86
    // — subspace count m is the recall lever, codebook size second.
    val bf = Similarity.bruteForceTopK(quantized, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val s = df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (bf & s).size.toDouble / bf.size
    }
    val binOnly = recallOf(
      Similarity.binaryTopK(quantized, queries, k = 5, shortlist = 50))
    val funnel = recallOf(Similarity.funnelTopK(quantized, queries, k = 5,
      hammingShortlist = 150, rerank = 50, ks = 64, m = 8))
    val base = Similarity.pqCodebooks(quantized, ks = 64, m = 8, dim = 64)
    val refined = Similarity.pqRefineCodebooks(quantized,
      Similarity.pqRefineCodebooks(quantized, base, m = 8, dim = 64), m = 8, dim = 64)
    val funnelRef = recallOf(Similarity.funnelTopKWith(quantized, queries, k = 5,
      refined, m = 8, dim = 64, hammingShortlist = 150, rerank = 50))
    info(f"recall@5: binary-only $binOnly%.3f -> funnel $funnel%.3f " +
      f"-> Lloyd-refined funnel $funnelRef%.3f (same 10%% exact budget)")
    assert(funnel >= binOnly, "ADC rescoring of a wider net must not lose recall")
    assert(funnel >= 0.8)
    assert(funnelRef >= funnel, "refinement must not lose recall")
  }

  test("funnel ANN results are independent of corpus partitioning") {
    def run(parts: Int) = Similarity.funnelTopK(quantized.repartition(parts),
      queries, k = 5, hammingShortlist = 150, rerank = 50, ks = 64, m = 8)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(run(2) == run(9))
  }

  test("tier-1 SRP retrieval (bits >= 17) end to end: planted near-dups recalled, cosines exact") {
    // The 256-plane pool lifts the band-bit cap 16 -> 32, but no
    // committed corpus derives bits >= 17 naturally (needs n > 40*2^16
    // ~ 2.6M vectors) — so tier-1 RETRIEVAL (signatures drawing tier-1
    // planes, >16-bit bucket keys, probe flips) needs the forceBits
    // hook plus a corpus whose true neighbors are close enough to
    // co-bucket at 18-bit resolution: 4000 bases x 10 near-copies
    // (one dim perturbed by the copy index — cosine ~ 0.9999+, so a
    // sibling agrees on 18 hyperplane signs in some band w.h.p.,
    // while unrelated vectors are hyper-sparse at occupancy << 1).
    val dim = 16
    val corpus = spark.range(0, 40000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        pmod((col("id") / 10).cast("long") * 1315423911L +
          d.cast("long") * 2654435761L, lit(2001L)) - 1000L +
          when(d === pmod(col("id"), lit(dim.toLong)).cast("int"),
            pmod(col("id"), lit(10L))).otherwise(0L)).as("query_vec"))
    val qs = corpus.filter(col("vec_id") % 400 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    val pool = Similarity.planes(256, dim)
    // structural witness that 18-bit slices draw tier-1 planes (bit 16
    // of band 0 is pool plane 128 — the first tier-1 entry)
    assert(Similarity.srpPoolSlice(pool, 8, 16, 18)(16).sameElements(pool(128)))
    val ann = Similarity.annTopKAuto(corpus, qs, k = 5, pool,
      knownN = 40000L, knownQ = 100L, forceBits = 18)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty, "tier-1 search returned nothing")
    // every returned cosine is the EXACT score (the candidate path
    // must not perturb scoring): recompute independently per pair
    val exactPairs = {
      val a = corpus.select(col("vec_id").as("query_id"), col("query_vec").as("qv"))
      val b = corpus.select(col("vec_id"), col("query_vec").as("cv"))
      spark.createDataFrame(
          spark.sparkContext.parallelize(ann.map(r => org.apache.spark.sql.Row(r._1, r._2)).toSeq),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType))))
        .join(a, "query_id").join(b, "vec_id")
        .withColumn("exact", Similarity.cosineQ(col("qv"), col("cv")))
        .select("query_id", "vec_id", "exact").as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    }
    assert(ann.forall { case (q, v, c) => exactPairs((q, v)) == c },
      "ANN cosines must equal the exact integer-quantized scores")
    // recall floor vs the exact ideal: the true top-5 are planted
    // siblings; 18-bit banding must recover nearly all of them
    val bf = Similarity.bruteForceTopK(corpus, qs, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = ann.map(r => (r._1, r._2)).toSet
    val recall = (bf & got).size.toDouble / bf.size
    info(f"tier-1 (18-bit) recall@5 on planted near-dups = $recall%.3f over ${bf.size} pairs")
    assert(recall >= 0.9, f"tier-1 retrieval lost planted neighbors: $recall%.3f")
  }

  test("the 32-bit pool/oracle contract is pinned: deeper pools and forced bits past the cap throw") {
    val qs = queries
    // a 3-tier pool (48 potential band bits) exceeds what the packing
    // (1L << j) and the committed two-tier oracle arithmetic replay
    assertThrows[IllegalArgumentException](
      Similarity.annTopKAuto(quantized, qs, k = 5, Similarity.planes(384, 64)))
    assertThrows[IllegalArgumentException](
      Similarity.annTopKAuto(quantized, qs, k = 5, Similarity.planes(256, 64),
        forceBits = 33))
  }

  test("planes are deterministic for a fixed seed") {
    assert(Similarity.planes(4, 8).map(_.toSeq).toSeq ==
      Similarity.planes(4, 8).map(_.toSeq).toSeq)
  }
}
