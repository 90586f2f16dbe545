package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HdrSketchSpec extends SparkSpec {
  import spark.implicits._

  // deterministic skewed positive longs: id^2 % M spreads across
  // 5 decades, exercising both the exact (< 2^b) and log-linear
  // branches of the bucket law
  private def values = spark.range(0, 20000)
    .select((col("id") % 5).as("g"),
      ((col("id") * col("id")) % 1000000L).as("v"))

  test("bucket law: monotone, contiguous, and bounded relative error") {
    val b = 5
    var prev = -1
    var v = 0L
    while (v < 100000L) {
      val idx = HdrSketch.bucketOf(v, b)
      assert(idx == prev || idx == prev + 1, s"gap at v=$v")
      val lb = HdrSketch.lowerBound(idx, b)
      assert(lb <= v, s"lower bound above v at $v")
      // relative error certificate: v < lb * (1 + 2^-b), exact below 2^b
      if (v < (1L << b)) assert(lb == v)
      else assert(v - lb < math.max(1L, lb >> b) + (lb >> b), s"width at $v")
      prev = idx
      v += 1
    }
  }

  test("agg quantile = JVM replay of the same bucket law and rank rule") {
    val got = values.groupBy("g")
      .agg(call_function("graft_hdr", col("v"), lit(5), lit(50)).as("p50"),
        call_function("graft_hdr", col("v"), lit(5), lit(95)).as("p95"))
      .as[(Long, Long, Long)].collect().map { case (g, a, b2) => g -> (a, b2) }.toMap
    val raw = values.as[(Long, Long)].collect().groupBy(_._1)
    val expected = raw.map { case (g, rows) =>
      val buckets = rows.map(r => HdrSketch.bucketOf(r._2, 5))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val n = rows.length.toLong
      def q(pct: Int): Long = {
        val threshold = (n * pct + 99) / 100
        var cum = 0L
        val idx = buckets.find { case (_, c) => cum += c; cum >= threshold }.get._1
        HdrSketch.lowerBound(idx, 5)
      }
      g -> (q(50), q(95))
    }
    assert(got == expected)
  }

  test("partition-count independent (bucket-map partials merge exactly)") {
    def run(parts: Int) = values.repartition(parts).groupBy("g")
      .agg(call_function("graft_hdr", col("v"), lit(5), lit(99)).as("p99"))
      .as[(Long, Long)].collect().toMap
    assert(run(1) == run(13))
  }

  test("reported quantile brackets the exact rank-order statistic within 2^-b") {
    val got = values.groupBy("g")
      .agg(call_function("graft_hdr", col("v"), lit(5), lit(95)).as("lb"))
      .as[(Long, Long)].collect().toMap
    val raw = values.as[(Long, Long)].collect().groupBy(_._1)
    raw.foreach { case (g, rows) =>
      val sorted = rows.map(_._2).sorted
      val x = sorted(((sorted.length.toLong * 95 + 99) / 100).toInt - 1)
      val lb = got(g)
      // certificate: lb <= x < lb + bucketWidth, width <= max(1, lb/2^b)
      assert(lb <= x, s"g=$g lb=$lb x=$x")
      assert(x <= lb + math.max(1L, lb >> 5), s"g=$g lb=$lb x=$x outside band")
    }
  }

  test("rollup ALL row equals a direct global aggregate (grouping-sets path)") {
    // the q249 shape: one pass produces per-group AND grand-total
    // quantiles; the total buffer must see every row exactly once
    val rolled = values.rollup("g")
      .agg(call_function("graft_hdr", col("v"), lit(5), lit(95)).as("p95"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1))
      .toMap
    val direct = values
      .agg(call_function("graft_hdr", col("v"), lit(5), lit(95)).as("p95"))
      .collect().head.getLong(0)
    assert(rolled(-1L) === direct)
    val perGroup = values.groupBy("g")
      .agg(call_function("graft_hdr", col("v"), lit(5), lit(95)).as("p95"))
      .as[(Long, Long)].collect().toMap
    assert(rolled.filter(_._1 >= 0) == perGroup)
  }

  test("empty groups evaluate to null; negative input fails the named contract") {
    val empty = spark.range(0, 10).select(col("id").as("g"), col("id").as("v"))
      .filter(col("v") < 0)
      .agg(call_function("graft_hdr", col("v"), lit(5), lit(50)).as("p"))
      .collect()
    assert(empty.length == 1 && empty.head.isNullAt(0))
    val err = intercept[Exception] {
      spark.range(0, 10).select((col("id") - 5L).as("v"))
        .agg(call_function("graft_hdr", col("v"), lit(5), lit(50)))
        .collect()
    }
    assert(err.getMessage.contains("graft_hdr") ||
      err.getCause != null && err.getCause.getMessage.contains("graft_hdr"))
  }

  test("out-of-range b and pct fail alike spelled as Int or Long literals") {
    LiteralSpelling.assertFailAlike(
      b => spark.range(3).agg(expr(s"graft_hdr(id, $b, 50)")), "9", "sub-bucket bits, got 9")
    LiteralSpelling.assertFailAlike(
      p => spark.range(3).agg(expr(s"graft_hdr(id, 5, $p)")),
      "0", "requires 1 <= pct <= 100, got 0")
  }
}
