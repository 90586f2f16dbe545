package graft.plans

import graft.SparkSpec
import graft.operators.HeavyHitters
import org.apache.spark.sql.functions._

class FreqSketchSpec extends SparkSpec {
  import spark.implicits._

  /** Heavy-tail skew: 5 hot keys at 2000 rows each over a 20k-key
    * singleton tail — the shape MG exists for (distinct count 20005
    * vastly exceeds any sane capacity, so decrements really fire). */
  private def zipf = spark.range(0, 30000)
    .select(
      when(col("id") % 3 === 0, concat(lit("hot"), col("id") % 5))
        .otherwise(concat(lit("tail"), col("id")))
        .as("item"))

  test("exact regime: distinct <= capacity makes the sketch the exact frequency table") {
    val df = spark.range(0, 10000)
      .select(concat(lit("k"), col("id") % 50).as("item"))
    val sk = df.agg(call_function("graft_mg_sketch", col("item"), lit(64)).as("sk"))
      .select(explode(col("sk")).as("c"))
      .select(col("c.item").as("item"), col("c.lb").as("lb"))
      .as[(String, Long)].collect().toMap
    val exact = df.groupBy("item").count().as[(String, Long)].collect().toMap
    assert(sk == exact)
  }

  test("MG bound: every stored lb undercounts by at most n/(capacity+1), never overcounts") {
    val cap = 32
    val n = zipf.count()
    val exact = zipf.groupBy("item").count().as[(String, Long)].collect().toMap
    val sk = zipf.repartition(7)
      .agg(call_function("graft_mg_sketch", col("item"), lit(cap)).as("sk"))
      .select(explode(col("sk")).as("c"))
      .select(col("c.item").as("item"), col("c.lb").as("lb"))
      .as[(String, Long)].collect().toMap
    assert(sk.nonEmpty && sk.size <= cap)
    val slack = n.toDouble / (cap + 1)
    sk.foreach { case (item, lb) =>
      val t = exact(item)
      assert(lb <= t, s"$item: lb $lb overcounts true $t")
      assert(t - lb <= slack, s"$item: undercount ${t - lb} exceeds bound $slack")
    }
    // the superset guarantee: every true heavy item is stored
    exact.filter(_._2 > slack).keys.foreach { item =>
      assert(sk.contains(item), s"true heavy hitter $item missing from sketch")
    }
  }

  test("frequentItems is exact and partition-invariant despite the sketch's merge-order noise") {
    val support = 0.01
    val exact = zipf.groupBy("item").agg(count(lit(1)).as("freq"))
      .filter(col("freq").cast("double") >= lit(support) * zipf.count())
      .as[(String, Long)].collect().toMap
    def run(parts: Int) =
      HeavyHitters.frequentItems(zipf.repartition(parts), "item", support, capacity = 256)
        .select(col("item"), col("freq")).as[(String, Long)].collect().toMap
    val r1 = run(1)
    val r13 = run(13)
    assert(r1 == exact, "two-pass funnel must match the full groupBy answer")
    assert(r13 == exact, "result must not depend on input partitioning")
  }

  test("grouped frequentItems is exact per group and partition-invariant") {
    // two groups with DIFFERENT hot keys and different sizes, so a
    // group-blind funnel would mix supports across groups
    val df = spark.range(0, 30000)
      .select(
        when(col("id") % 3 === 0, lit("g1")).otherwise(lit("g2")).as("grp"),
        when(col("id") % 7 === 0, concat(lit("hot"), col("id") % 2))
          .otherwise(concat(lit("tail"), col("id"))).as("item"))
    val support = 0.02
    val exact = df.groupBy("grp", "item").agg(count(lit(1)).as("freq"))
      .join(df.groupBy("grp").agg(count(lit(1)).as("n")), "grp")
      .filter(col("freq").cast("double") >= lit(support) * col("n"))
      .select(col("grp"), col("item"), col("freq"))
      .as[(String, String, Long)].collect().toSet
    def run(parts: Int) =
      HeavyHitters.frequentItemsByGroup(df.repartition(parts), "grp", "item",
          support, capacity = 128)
        .select(col("group"), col("item"), col("freq"))
        .as[(String, String, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must produce per-group heavy hitters")
    assert(run(1) == exact)
    assert(run(13) == exact)
  }

  test("frequentItems rejects a support below the lossless bound") {
    val e = intercept[IllegalArgumentException] {
      HeavyHitters.frequentItems(zipf, "item", minSupport = 0.0001, capacity = 256)
    }
    assert(e.getMessage.contains("lossless"))
  }

  test("randomized: buffers honor the MG bound under arbitrary splits and merge orders") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val cap = 4 + rnd.nextInt(29) // 4..32
      val agg = MisraGriesAgg(BoundReference(0, StringType, nullable = true), cap)
      // skewed stream: a few hot keys + a wide tail, length 200..2000
      val n = 200 + rnd.nextInt(1801)
      val stream = Seq.fill(n) {
        if (rnd.nextBoolean()) s"hot${rnd.nextInt(3)}" else s"t${rnd.nextInt(500)}"
      }
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // split into 1..8 random chunks, one buffer each, merge in order
      val chunks = stream.grouped(1 + rnd.nextInt(math.max(1, n / (1 + rnd.nextInt(8))))).toSeq
      val merged = chunks.map { chunk =>
        val b = agg.createAggregationBuffer()
        chunk.foreach(s => agg.update(b, InternalRow(UTF8String.fromString(s))))
        // exercise the spill path on a random subset of buffers
        if (rnd.nextBoolean()) agg.deserialize(agg.serialize(b)) else b
      }.reduce(agg.merge)
      assert(merged.size <= cap, s"buffer exceeded capacity $cap")
      val slack = n.toDouble / (cap + 1)
      merged.forEach { (k, lb) =>
        val t = exact(k.toString)
        assert(lb <= t, s"${k.toString}: lb $lb overcounts true $t (cap $cap, n $n)")
        assert(t - lb <= slack, s"${k.toString}: undercount ${t - lb} > bound $slack")
      }
      exact.collect { case (item, t) if t > slack =>
        assert(merged.containsKey(UTF8String.fromString(item)),
          s"heavy item $item (count $t > $slack) missing after merges (cap $cap)")
      }
    }
  }

  test("sketch state survives serialization (buffer spill path) byte-exactly") {
    val agg = MisraGriesAgg(org.apache.spark.sql.catalyst.expressions.Literal("x"), 8)
    val buf = agg.createAggregationBuffer()
    Seq("a", "b", "a", "c", "a", "b").foreach { s =>
      val cur = buf.get(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      buf.put(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        if (cur == null) 1L else cur + 1L)
    }
    val rt = agg.deserialize(agg.serialize(buf))
    assert(rt == buf)
  }

  test("an out-of-range capacity fails alike spelled as an Int or a Long literal") {
    LiteralSpelling.assertFailAlike(
      c => Seq("a").toDF("v").agg(expr(s"graft_mg_sketch(v, $c)")),
      "0", "requires capacity > 0, got 0")
  }
}
