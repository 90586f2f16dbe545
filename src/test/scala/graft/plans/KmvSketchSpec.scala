package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  private def hashed = spark.range(0, 5000)
    .select((col("id") % 7).as("g"), md5(col("id").cast("string")).as("hv"))

  test("kmv sketch equals DISTINCT + sort + limit k computed declaratively") {
    val k = 32
    val viaAgg = hashed.groupBy("g")
      .agg(call_function("graft_kmv", col("hv"), lit(k)).as("sketch"))
      .select(col("g"), col("sketch")).as[(Long, Seq[String])].collect()
      .toMap
    val viaSql = hashed.distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("hv")))
      .filter(col("rn") <= k)
      .groupBy("g").agg(sort_array(collect_list("hv")).as("mins"))
      .select(col("g"), col("mins")).as[(Long, Seq[String])].collect()
      .toMap
    assert(viaAgg == viaSql)
  }

  test("kmv is partition-count independent (map-side partials merge exactly)") {
    val k = 16
    def sketchWith(parts: Int) = hashed.repartition(parts)
      .groupBy("g")
      .agg(call_function("graft_kmv", col("hv"), lit(k)).as("sketch"))
      .select(col("g"), col("sketch")).as[(Long, Seq[String])].collect().toMap
    assert(sketchWith(1) == sketchWith(13))
  }

  test("kmv estimate lands near the true distinct count; small groups are exact") {
    val k = 64
    val est = spark.range(0, 20000)
      .select(when(col("id") < 10, "small").otherwise("big").as("g"),
        md5(col("id").cast("string")).as("hv"))
      .groupBy("g")
      .agg(call_function("graft_kmv", col("hv"), lit(k)).as("sketch"))
      .withColumn("n", size(col("sketch")))
      .withColumn("frac",
        conv(substring(try_element_at(col("sketch"), lit(k)), 1, 12), 16, 10)
          .cast("double") / lit(math.pow(16.0, 12.0)))
      .withColumn("est",
        when(col("n") < k, col("n").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("frac")))
      .select(col("g"), col("est")).as[(String, Double)].collect().toMap
    assert(est("small") == 10.0)
    val err = math.abs(est("big") - 19990.0) / 19990.0
    info(f"KMV k=$k estimate for 19990 distinct: ${est("big")}%.1f (rel err $err%.3f)")
    assert(err < 0.5)
  }

  test("kmv orders non-ASCII like the engine and survives >64KiB values") {
    val k = 4
    // non-ASCII values whose UTF-16 (Java String) order differs from
    // UTF-8 binary order, plus a value past writeUTF's 65535-byte cap
    val big = "😀" + ("x" * 70000) // 4-byte emoji prefix, >64KiB total
    val vals = Seq("Ａ", "é", "z", "Z", "éb", big, "💡", "ab")
    val df = vals.toDF("v")
    val viaAgg = df
      .agg(call_function("graft_kmv", col("v"), lit(k)).as("sketch"))
      .select(col("sketch")).as[Seq[String]].head()
    val viaSql = df.distinct().orderBy("v").limit(k)
      .as[String].collect().toSeq.sorted(Ordering.comparatorToOrdering(
        new java.util.Comparator[String] {
          def compare(a: String, b: String): Int =
            org.apache.spark.unsafe.types.UTF8String.fromString(a)
              .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
        }))
    // the engine's orderBy+limit picks the same k survivors (binary order)
    assert(viaAgg == viaSql)
    // the big value round-trips serialize/deserialize across a shuffle
    val withBig = df.repartition(3)
      .agg(call_function("graft_kmv", col("v"), lit(100)).as("sketch"))
      .select(col("sketch")).as[Seq[String]].head()
    assert(withBig.contains(big))
  }

  test("kmv ignores nulls and caps state at k") {
    val k = 8
    val withNulls = spark.range(0, 100)
      .select(when(col("id") % 2 === 0, md5(col("id").cast("string"))).as("hv"))
    val sk = withNulls
      .agg(call_function("graft_kmv", col("hv"), lit(k)).as("sketch"))
      .select(size(col("sketch"))).as[Int].head()
    assert(sk == k)
  }

  test("an out-of-range k fails alike spelled as an Int or a Long literal") {
    LiteralSpelling.assertFailAlike(
      k => Seq(1L).toDF("v").agg(expr(s"graft_kmv(v, $k)")), "-3", "requires k > 0, got -3")
  }
}
