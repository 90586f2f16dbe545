package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CmsSketchSpec extends SparkSpec {
  import spark.implicits._

  private val depth = 4
  private val width = 64

  // deterministic skewed corpus: item k appears k times, k = 1..40
  private val corpus: Seq[String] = (1 to 40).flatMap(k => Seq.fill(k)(s"item$k"))

  private def grid(numPartitions: Int): Array[Long] =
    corpus.toDF("v").repartition(numPartitions)
      .agg(expr(s"graft_cms(md5(v), $depth, $width)"))
      .head().getSeq[Long](0).toArray

  test("grid is identical for every partitioning (merge-order determinism)") {
    val g1 = grid(1)
    val g8 = grid(8)
    assert(g1.length === depth * width)
    assert(g1.sameElements(g8))
    // each row of the grid accounts for every input exactly once
    (0 until depth).foreach { i =>
      assert(g1.slice(i * width, (i + 1) * width).sum === corpus.size.toLong)
    }
  }

  test("point estimates never underestimate and are exact without collisions") {
    val g = grid(4)
    (1 to 40).foreach { k =>
      val h = CmsSketchAgg.md5Hex(s"item$k")
      val est = (0 until depth)
        .map(i => g(i * width + CmsSketchAgg.bucket(h, i, width))).min
      assert(est >= k, s"item$k: est $est < true $k")
    }
    // an absent item's estimate is pure collision mass — bounded by
    // the classic e*n/width expectation with depth rows of slack; at
    // n=820, width=64 the deterministic check est <= n is the safe
    // bound, the tight typical value is ~n/width
    val ha = CmsSketchAgg.md5Hex("absent")
    val estAbsent = (0 until depth)
      .map(i => g(i * width + CmsSketchAgg.bucket(ha, i, width))).min
    assert(estAbsent >= 0 && estAbsent <= corpus.size.toLong)
  }

  test("null inputs are skipped; bad params are rejected at analysis") {
    val g = Seq(Some("a"), None, Some("a")).toDF("v")
      .agg(expr(s"graft_cms(md5(v), 2, 16)")).head().getSeq[Long](0)
    assert(g.sum === 4L) // 2 non-null rows x depth 2
    val err = intercept[Exception] {
      Seq("a").toDF("v").agg(expr("graft_cms(md5(v), 6, 16)")).head()
    }
    assert(err.getMessage.toLowerCase.contains("depth"))
  }

  test("out-of-range depth and width fail alike spelled as Int or Long literals") {
    LiteralSpelling.assertFailAlike(
      d => Seq("a").toDF("v").agg(expr(s"graft_cms(md5(v), $d, 16)")), "0", "32-char md5), got 0")
    LiteralSpelling.assertFailAlike(
      w => Seq("a").toDF("v").agg(expr(s"graft_cms(md5(v), 2, $w)")),
      "0", "requires width > 0, got 0")
  }
}
