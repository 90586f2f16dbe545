package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Prefix-doubling suffix ranks ≡ brute-force sorted truncated
  * suffixes — count-smaller ranks (round 13: rank = number of
  * strictly smaller suffixes, the discarding-stable form; equal
  * suffixes still share a rank, including groups spanning range-
  * partition boundaries), truncation semantics, duplicate documents,
  * input-partitioning invariance, the distributed zipWithIndex
  * contract, and the adjacentLcp panel kernel.
  */
class SuffixRankSpec extends SparkSpec {
  import spark.implicits._

  /** All (doc, pos, suffix) of texts truncated at maxLen. */
  private def bruteSuffixes(docs: Seq[(Long, String)], maxLen: Int): Seq[(Long, Int, String)] =
    docs.flatMap { case (id, text) =>
      val t = text.take(maxLen)
      (0 until t.length).map(p => (id, p, t.substring(p)))
    }

  /** Count-smaller rank per suffix string: the index of the string's
    * first occurrence in the multiset-sorted suffix list. */
  private def bruteRanks(docs: Seq[(Long, String)], maxLen: Int): Map[(Long, Int), Long] = {
    val sfx = bruteSuffixes(docs, maxLen)
    val firstIdx = scala.collection.mutable.Map.empty[String, Long]
    sfx.map(_._3).sorted.zipWithIndex.foreach { case (s, i) =>
      if (!firstIdx.contains(s)) firstIdx(s) = i.toLong
    }
    sfx.map { case (id, p, s) => (id, p) -> firstIdx(s) }.toMap
  }

  private def runRanks(docs: Seq[(Long, String)], maxLen: Int): Map[(Long, Int), Long] =
    SuffixRank.ranks(docs.toDF("doc_id", "text"), "doc_id", "text", maxLen)
      .as[(Long, Int, Long)].collect()
      .map { case (id, p, r) => (id, p) -> r }.toMap

  test("handcrafted corpus with a duplicate document: count-smaller ranks exact") {
    val docs = Seq((1L, "banana"), (2L, "bandana"), (3L, "banana"))
    assert(runRanks(docs, 240) === bruteRanks(docs, 240))
  }

  test("truncation budget applies before suffixing") {
    val docs = Seq((1L, "banana"), (2L, "band"))
    // maxLen 4: suffixes of "bana" and "band" only
    assert(runRanks(docs, 4) === bruteRanks(docs, 4))
  }

  test("sf0.001 sample: ranks ≡ brute force at maxLen=60") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 60).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    assert(docs.nonEmpty)
    assert(runRanks(docs, 60) === bruteRanks(docs, 60))
  }

  test("ranks are invariant to input partitioning") {
    val docs = Seq((1L, "abcabc"), (2L, "bcabca"), (3L, "cabcab"), (4L, "abcabc"))
    val base = runRanks(docs, 240)
    val repart = SuffixRank.ranks(
      docs.toDF("doc_id", "text").repartition(7), "doc_id", "text", 240)
      .as[(Long, Int, Long)].collect()
      .map { case (id, p, r) => (id, p) -> r }.toMap
    assert(repart === base)
  }

  /** Independent code-point LCP/snippet (java.lang codePoints — a
    * different implementation family than the operator's char loop). */
  private def cpLcp(a: String, b: String): Int = {
    val ca = a.codePoints.toArray; val cb = b.codePoints.toArray
    val n = math.min(ca.length, cb.length)
    var i = 0
    while (i < n && ca(i) == cb(i)) i += 1
    i
  }
  private def cpSnippet(s: String, l: Int): String =
    new String(s.codePoints.toArray, 0, math.min(l, 32))

  test("adjacentLcp ≡ brute-force sorted-adjacency panel (ascii + unicode, forced boundaries)") {
    // includes a duplicate doc (equal-rank ties broken by doc_id) and
    // supplementary-plane chars (surrogate-pair backup in the lcp).
    // Suffix positions are CODE POINTS, matching production (the
    // ranks() explode splits text per code point, so a suffix never
    // starts inside a surrogate pair).
    val docs = Seq((1L, "banana"), (2L, "bandana"), (3L, "banana"),
      (4L, "日本語ba𐐀na"), (5L, "𐐀𐐁ba"))
    val sfx: Seq[(Long, Int, String)] = docs.flatMap { case (id, text) =>
      val cps = text.codePoints.toArray
      (0 until cps.length).map(p => (id, p, new String(cps, p, cps.length - p)))
    }
    val ranks: Map[(Long, Int), Long] = {
      val firstIdx = scala.collection.mutable.Map.empty[String, Long]
      sfx.map(_._3).sorted.zipWithIndex.foreach { case (s, i) =>
        if (!firstIdx.contains(s)) firstIdx(s) = i.toLong
      }
      sfx.map { case (id, p, s) => (id, p) -> firstIdx(s) }.toMap
    }
    val ordered = sfx.sortBy { case (id, p, s) => (ranks((id, p)), id, p) }
    val expected = ordered.zip(ordered.drop(1)).map {
      case ((da, pa, sa), (db, pb, sb)) =>
        val l = cpLcp(sa, sb)
        (da, pa.toLong, db, pb.toLong, l.toLong, da != db, cpSnippet(sa, l))
    }.toSet
    val withSfx = sfx.map { case (id, p, s) => (id, p, ranks((id, p)), s) }
      .toDF("doc_id", "pos", "rank", "sfx")
    // high minPartitions forces pair groups across range boundaries;
    // adversarial input partitioning must not matter
    Seq(0, 7).foreach { mp =>
      val got = SuffixRank.adjacentLcp(withSfx.repartition(5), mp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5), r.getString(6))).toSet
      assert(got === expected, s"minPartitions=$mp")
    }
  }

  test("zipWithIndex: contiguous 0-based index in sort order, any partitioning") {
    val df = (1 to 97).map(i => (i.toLong, s"k${100 - i}")).toDF("id", "k")
      .repartition(5)
    val got = SuffixRank.zipWithIndex(df, Seq("k", "id"))
      .select("id", "k", "_gi").as[(Long, String, Long)].collect()
    val expected = (1 to 97).map(i => (i.toLong, s"k${100 - i}"))
      .sortBy { case (id, k) => (k, id) }.zipWithIndex
      .map { case ((id, k), gi) => (id, k, gi.toLong) }
    assert(got.sortBy(_._3).toSeq === expected)
  }

  test("lcpCodePoints ≡ graft_lcp on lone surrogates, incl. one ending the shorter string") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val hi = "\uD83D"
    val pair = "\uD83D\uDE00"
    val cases = Seq(
      ("ab" + hi, "ab" + pair) -> 2,          // shorter ends with a lone high surrogate
      ("ab" + pair, "ab" + hi) -> 2,
      ("ab" + hi, "ab" + hi + "c") -> 3,      // lone in both: one common code point
      (hi + "x", hi + "y") -> 1,
      ("a" + pair, "a" + hi + "\uDE01") -> 1) // different low halves
    cases.foreach { case ((a, b), want) =>
      val lcp = graft.plans.CommonPrefixLength(Literal(a), Literal(b)).eval()
      assert(SuffixRank.lcpCodePoints(a, b) === want, s"lcp of ${a.map(_.toInt)}, ${b.map(_.toInt)}")
      assert(lcp === want, "graft_lcp")
    }
  }
}
