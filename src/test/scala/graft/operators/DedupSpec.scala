package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
  // single-occurrence edit: every base shingle still occurs in another
  // repetition, so jaccard is high (13/16 ≈ 0.81) — a true near-dup
  private val nearDup = base.replaceFirst("lazy", "sleepy")
  private val unrelated = "completely different content about spark catalyst optimizer " +
    "plans and shuffles with nothing shared at all in any shingle window here"

  private def docs = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated)
  ).toDF("doc_id", "text")

  test("connected components: chains collapse to min-id clusters, convergence past diameter") {
    // two components: a 4-chain (10-11-12-13, diameter 3) + a pair (20,21)
    val edges = Seq((11L, 10L), (11L, 12L), (12L, 13L), (21L, 20L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connected components: maxIter caps rounds but converged result is iteration-order free") {
    // a longer chain 0-1-2-...-9: min label must flood the full diameter
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(cc.forall(_._2 == 0L) && cc.length == 10)
  }

  test("connected components: diameter past maxIter converges via star-contraction fallback") {
    // a 31-node chain (diameter 30) with maxIter=3: label propagation
    // cannot finish, so the star-contraction fallback must produce the
    // exact same contract (every node labeled with the component min)
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, maxIter = 3).as[(Long, Long)].collect()
    assert(cc.length == 31 && cc.forall(_._2 == 0L))
  }

  test("star contraction directly: multiple components get min-id labels") {
    val edges = Seq((11L, 10L), (11L, 12L), (12L, 13L), (21L, 20L))
      .toDF("id_a", "id_b")
    val sym = edges.select($"id_a".as("src"), $"id_b".as("dst"))
      .union(edges.select($"id_b".as("src"), $"id_a".as("dst")))
    val cc = Dedup.starContraction(sym).as[(Long, Long)].collect().toMap
    assert(cc == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("minhash LSH surfaces the planted near-duplicate pair") {
    // k=32 / 8 bands: capture probability ≥ 0.99 at jaccard 0.8
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", k = 32)
    val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", bands = 8, rowsPerBand = 4)
    val verified = Dedup.verifyJaccard(pairs, docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(verified.contains((0L, 1L)))
    assert(!verified.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhash signature is deterministic across evaluations") {
    val a = Dedup.minhashSignatures(docs, "doc_id", "text").collect().map(_.toString).sorted
    val b = Dedup.minhashSignatures(docs, "doc_id", "text").collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("simhash: near-dup pair is close in Hamming distance, unrelated is far") {
    val sigs = Dedup.simhash64(docs, "doc_id", "text")
    val m = sigs.as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(0L), m(1L)) < hamming(m(0L), m(2L)))
    assert(hamming(m(0L), m(1L)) <= 16)
  }

  test("simhashNearDups: pigeonhole guarantee — any pair with hamming <= 7 is found") {
    // fabricated fingerprints: 1 differs from 0 in 7 bits (found),
    // 2 differs from 0 in ~32 bits (must not pass the hamming filter)
    val sigs = Seq(
      (0L, 0x0123456789ABCDEFL),
      (1L, 0x0123456789ABCDEFL ^ 0x7FL),        // 7 low bits flipped
      (2L, 0x0123456789ABCDEFL ^ 0x5555555555555555L)
    ).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashNearDups(sigs, "doc_id", maxHamming = 7)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).contains((0L, 1L)))
    assert(pairs.forall(_._3 <= 7))
    assert(!pairs.map(p => (p._1, p._2)).contains((0L, 2L)))
  }

  test("simhashNearDups reports exact hamming distances on real docs") {
    val sigs = Dedup.simhash64(docs, "doc_id", "text")
    val m = sigs.as[(Long, Long)].collect().toMap
    val pairs = Dedup.simhashNearDups(sigs, "doc_id", maxHamming = 63)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    pairs.foreach { case (a, b, h) =>
      assert(h === java.lang.Long.bitCount(m(a) ^ m(b)))
    }
  }

  test("identical documents have jaccard 1.0 and identical simhash") {
    val dup = Seq((0L, base), (1L, base)).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(dup, "doc_id", "text")
    val verified = Dedup.verifyJaccard(
      Dedup.lshCandidatePairs(sigs, "doc_id"), dup, "doc_id", "text")
      .select("jaccard").as[Double].collect()
    assert(verified.sameElements(Array(1.0)))
    val sh = Dedup.simhash64(dup, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(sh(0L) === sh(1L))
  }

  test("oracle SQL mirrors the kernels: no negative divisor, MinHash coefficients equal Dedup's") {
    // a Long literal past bit 62 prints negative: rotl-by-1's wrap-down
    // divisor once read `// -9223372036854775808`, which DuckDB floors
    // to 0/-1 instead of the wrapped top bit
    val negDivisor = """(?://|/|%)\s*-\s*\d""".r
    graft.SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(negDivisor.findFirstIn(sql).isEmpty, s"$name has a negative divisor")
    }
    // the kernel's family read back through minhashSig: a lone shingle
    // x gives h_i = (a_i·x + b_i) mod P, so x = 0 yields b_i, x = 1 a_i + b_i
    val b = Dedup.minhashSig(Array(0L), 16)
    val ab = Dedup.minhashSig(Array(1L), 16)
    val family = ("""\(\(\(\((\d+) \* i\) % (\d+)\) \| 1\) \* CAST\(x % 4294967296 AS BIGINT\)""" +
      """\s+\+ \((\d+) \* i \+ (\d+)\) % (\d+)\) % (\d+)""").r
    val sigSqls = graft.SparkEntry.oracleSql.filter(_._2.contains("'min')) AS sig"))
    assert(sigSqls.size >= 13, sigSqls.keys)
    sigSqls.foreach { case (name, sql) =>
      val m = family.findFirstMatchIn(sql).getOrElse(fail(s"$name: no MinHash family"))
      val Seq(aMul, aMod, bMul, bAdd, bMod, p) = (1 to 6).map(g => BigInt(m.group(g)))
      (1 to 16).foreach { i =>
        val bi = (bMul * i + bAdd) % bMod
        val ai = ((aMul * i) % aMod) | BigInt(1)
        assert(bi % p === BigInt(b(i - 1)), s"$name: b_$i")
        assert((ai + bi) % p === BigInt(ab(i - 1)), s"$name: a_$i")
      }
    }
  }

  test("reliable checkpoint: configured dir switches cuts to fault-tolerant checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val cc = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
      assert(cc.forall(_._2 == 0L) && cc.length == 10)
      // the reliable path actually wrote checkpoint data
      assert(dir.toFile.listFiles.nonEmpty)
    } finally {
      // the session is JVM-shared across suites: restore the
      // localCheckpoint default (null resets checkpointDir to None in
      // local mode) and reap the temp dir so repeated test runs don't
      // accumulate checkpoint data
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
