package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_hilbert laws: agreement with an independent reference xy2d
  * (exhaustive at bits=5, randomized at bits=16), bijectivity over
  * the full grid, and the DEFINING locality property the Z-curve
  * lacks — consecutive indices are always grid-adjacent. */
class HilbertIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference (classic iterative xy2d). */
  private def refXy2d(bits: Int, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Reference inverse (d2xy), for the adjacency law. */
  private def refD2xy(bits: Int, d0: Long): (Long, Long) = {
    var x = 0L; var y = 0L
    var t = d0
    var s = 1L
    while (s < (1L << bits)) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  private def run(bits: Int, pts: Seq[(Long, Long)]): Seq[Long] =
    pts.zipWithIndex.map { case ((x, y), i) => (i, x, y) }
      .toDF("i", "x", "y")
      .select(col("i"),
        call_function("graft_hilbert", col("x"), col("y"), lit(bits)).as("h"))
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq

  test("exhaustive 32x32 (bits=5): expression ≡ reference, and a bijection") {
    val pts = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val got = run(5, pts)
    assert(got === pts.map { case (x, y) => refXy2d(5, x, y) })
    assert(got.toSet === (0L until 1024L).toSet, "indices cover [0, 4^bits) exactly once")
  }

  test("adjacency: consecutive Hilbert indices are Manhattan-distance-1 neighbors") {
    // the property Morton lacks (z-order jumps at power-of-two seams)
    (0L until 1023L).foreach { d =>
      val (x1, y1) = refD2xy(5, d)
      val (x2, y2) = refD2xy(5, d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L, s"at d=$d")
      // and the forward map agrees with the inverse
      assert(refXy2d(5, x1, y1) === d)
    }
  }

  test("randomized bits=16: expression ≡ reference on 500 seeded points") {
    val rnd = new scala.util.Random(23)
    val pts = Seq.fill(500)((rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    assert(run(16, pts) === pts.map { case (x, y) => refXy2d(16, x, y) })
  }

  test("coordinates are masked to bits, like Zorder.zvalue") {
    val got = run(4, Seq((16L + 3L, 32L + 5L))) // masked to (3, 5)
    assert(got.head === refXy2d(4, 3L, 5L))
  }

  test("null in → null out") {
    val got = Seq((Option(1L), Option.empty[Long])).toDF("x", "y")
      .select(call_function("graft_hilbert", col("x"), col("y"), lit(8)))
      .collect()
    assert(got.head.isNullAt(0))
  }

  test("out-of-range bits fail alike spelled as an Int or a Long literal") {
    LiteralSpelling.assertFailAlike(
      b => spark.range(3).select(expr(s"graft_hilbert(id, id, $b)")),
      "32", "bits must be in [1, 31], got 32")
  }
}
