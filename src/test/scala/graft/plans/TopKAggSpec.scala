package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** graft_topk — exact bounded-heap per-group top-k. The order is
  * TOTAL (score DESC, payload ASC), so unlike the MG sketch the
  * output is deterministic for any partitioning: partition invariance
  * is asserted, not just a guarantee set. */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  private def topk(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy("g")
      .agg(call_function("graft_topk", col("s"), col("p"), lit(k)).as("top"))

  test("matches the window-rank formulation on seeded random data") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.tabulate(500)(i =>
      (rnd.nextInt(4), rnd.nextInt(50).toLong, f"p${rnd.nextInt(100)}%03d"))
    val df = rows.toDF("g", "s", "p")
    val got = topk(df, 5)
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rk"),
        col("col.score"), col("col.payload"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val want = df
      .withColumn("rk", row_number().over(
        Window.partitionBy("g").orderBy(col("s").desc, col("p").asc)))
      .filter(col("rk") <= 5)
      .select("g", "rk", "s", "p")
      .collect().map(r => (r.getInt(0), r.getInt(1).toLong, r.getLong(2), r.getString(3)))
      .toSet
    assert(got === want)
  }

  test("partition invariance: 1 vs 7 partitions give identical arrays") {
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(300)(i =>
      (rnd.nextInt(3), rnd.nextInt(20).toLong, f"x${rnd.nextInt(30)}%02d"))
      .toDF("g", "s", "p")
    val a = topk(df.repartition(1), 4).orderBy("g").collect().toSeq
    val b = topk(df.repartition(7), 4).orderBy("g").collect().toSeq
    assert(a === b)
  }

  test("duplicates both occupy slots; ties rank by payload; short groups return all") {
    val df = Seq(
      (1, 10L, "aa"), (1, 10L, "aa"), (1, 9L, "zz"), (1, 8L, "bb"),
      (2, 5L, "b"), (2, 5L, "a"), // tie: 'a' ranks first
      (3, 1L, "only")
    ).toDF("g", "s", "p")
    val got = topk(df, 3).orderBy("g").collect().map { r =>
      r.getInt(0) -> r.getSeq[Row](1).map(x => (x.getLong(0), x.getString(1)))
    }.toMap
    assert(got(1) === Seq((10L, "aa"), (10L, "aa"), (9L, "zz")))
    assert(got(2) === Seq((5L, "a"), (5L, "b")))
    assert(got(3) === Seq((1L, "only")))
  }

  test("under ROLLUP, the grand-total cell ≡ the direct global aggregate") {
    val rnd = new scala.util.Random(11)
    val df = Seq.tabulate(200)(i =>
      (s"s${rnd.nextInt(4)}", rnd.nextInt(30).toLong, f"p${rnd.nextInt(40)}%02d"))
      .toDF("g", "s", "p")
    val rolled = df.rollup("g")
      .agg(call_function("graft_topk", col("s"), col("p"), lit(4)).as("top"))
    val allRow = rolled.filter(col("g").isNull)
      .select("top").collect().head.getSeq[Row](0)
      .map(x => (x.getLong(0), x.getString(1)))
    val direct = df.agg(
        call_function("graft_topk", col("s"), col("p"), lit(4)).as("top"))
      .collect().head.getSeq[Row](0)
      .map(x => (x.getLong(0), x.getString(1)))
    assert(allRow === direct)
    // and each per-group cell matches its plain groupBy twin
    val perGroup = rolled.filter(col("g").isNotNull)
      .select("g", "top").collect()
      .map(r => r.getString(0) -> r.getSeq[Row](1).map(x => (x.getLong(0), x.getString(1))))
      .toMap
    val plain = df.groupBy("g")
      .agg(call_function("graft_topk", col("s"), col("p"), lit(4)).as("top"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Row](1).map(x => (x.getLong(0), x.getString(1))))
      .toMap
    assert(perGroup === plain)
  }

  test("null score or payload is skipped") {
    val df = Seq(
      (1, Some(3L), Some("a")), (1, None, Some("b")), (1, Some(9L), None)
    ).toDF("g", "s", "p")
    val got = topk(df, 3).collect().head.getSeq[Row](1)
      .map(x => (x.getLong(0), x.getString(1)))
    assert(got === Seq((3L, "a")))
  }

  test("an out-of-range k fails alike spelled as an Int or a Long literal") {
    LiteralSpelling.assertFailAlike(
      k => Seq((1.0, "a")).toDF("s", "p").agg(expr(s"graft_topk(s, p, $k)")),
      "0", "requires k > 0, got 0")
  }
}
