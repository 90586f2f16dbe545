package graft.operators

import graft.{SparkSpec, Tables}
import graft.streaming.FraudDetection
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based invariants (SURVEY.md §5): dedup idempotence, merge
  * idempotence, haversine bounds, signature determinism. Kernel-level
  * properties run pure-JVM (hundreds of cases); Spark-level ones use
  * a reduced case count.
  */
class PropertySpec extends SparkSpec {

  /** Dependency-light forAll: sample the generator N times (the
    * scalatest-scalacheck bridge artifact is not in the offline
    * cache, so properties drive ScalaCheck Gens directly). */
  private def forSamples[A](gen: Gen[A], n: Int = 200)(body: A => Unit): Unit =
    (1 to n).foreach(_ => gen.sample.foreach(body))
  import spark.implicits._

  private val textGen: Gen[String] = for {
    n <- Gen.choose(1, 60)
    words <- Gen.listOfN(n, Gen.oneOf(
      "the", "spark", "data", "join", "scan", "merge", "row", "batch",
      "fast", "slow", "key", "value", "agg", "filter", "window"))
  } yield words.mkString(" ")

  test("haversine is symmetric, non-negative, bounded by half circumference") {
    val coords = for {
      la1 <- Gen.choose(-90.0, 90.0); lo1 <- Gen.choose(-180.0, 180.0)
      la2 <- Gen.choose(-90.0, 90.0); lo2 <- Gen.choose(-180.0, 180.0)
    } yield (la1, lo1, la2, lo2)
    forSamples(coords) { case (la1, lo1, la2, lo2) =>
      val d = FraudDetection.haversineKm(la1, lo1, la2, lo2)
      val dRev = FraudDetection.haversineKm(la2, lo2, la1, lo1)
      assert(d >= 0 && d <= math.Pi * 6371.0 + 1e-6)
      assert(math.abs(d - dRev) < 1e-9)
    }
  }

  test("shingle hashes and minhash signatures are pure functions of text") {
    forSamples(textGen) { text =>
      val a = Dedup.shingleHashes(text, 3)
      val b = Dedup.shingleHashes(text, 3)
      assert(a.sameElements(b))
      assert(Dedup.minhashSig(a, 16).sameElements(Dedup.minhashSig(b, 16)))
    }
  }

  test("minhash signature equality rate approximates jaccard for identical texts") {
    forSamples(textGen) { text =>
      val sig1 = Dedup.minhashSig(Dedup.shingleHashes(text, 3), 16)
      // identical text → identical signature → estimated jaccard 1.0
      assert(sig1.sameElements(Dedup.minhashSig(Dedup.shingleHashes(text, 3), 16)))
    }
  }

  test("window dedup is idempotent on random keyed data (Spark)") {
    val rows = Gen.listOfN(300,
      for {
        k <- Gen.choose(0, 30)
        v <- Gen.choose(0L, 1000L)
      } yield (k.toLong, v)).sample.get
    val df = rows.toDF("k", "v")
    def dedup(d: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy("k").orderBy(col("v").desc)
      d.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }
    val once = dedup(df).as[(Long, Long)].collect().sortBy(_._1)
    val twice = dedup(dedup(df)).as[(Long, Long)].collect().sortBy(_._1)
    assert(once.toSeq === twice.toSeq)
    assert(once.map(_._1).distinct.length === once.length)
  }

  test("mergeParquet is idempotent under replay of any increment (Spark)") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge").toString + "/t"
    val base = (1 to 50).map(i => (s"k$i", 1L, i.toDouble)).toDF("id", "ver", "v")
    val inc = (25 to 75).map(i => (s"k$i", 2L, i * 2.0)).toDF("id", "ver", "v")
    graft.telecom.Pipeline.mergeParquet(spark, base, dir, Seq("id"), "ver")
    graft.telecom.Pipeline.mergeParquet(spark, inc, dir, Seq("id"), "ver")
    val afterOnce = spark.read.parquet(dir).as[(String, Long, Double)].collect().sortBy(_._1)
    graft.telecom.Pipeline.mergeParquet(spark, inc, dir, Seq("id"), "ver")
    val afterTwice = spark.read.parquet(dir).as[(String, Long, Double)].collect().sortBy(_._1)
    assert(afterOnce.toSeq === afterTwice.toSeq)
    assert(afterOnce.length === 75)

    // Random increments (updates, inserts, in-increment duplicates,
    // exact replays, a schema evolution) against a spec-local
    // reference: the plain union + row_number keep-latest the merge is
    // defined by. Versions are unique per key except under an exact
    // replay, whose tied rows are identical, so the result is
    // deterministic. Layout: each key in exactly one file, and as many
    // files as Pipeline.mergeBuckets gives for the target.
    def keepLatest(target: DataFrame, inc: DataFrame): DataFrame = {
      val w = Window.partitionBy("id").orderBy(col("ver").desc)
      target.unionByName(inc, allowMissingColumns = true)
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }
    def rowsOf(df: DataFrame, cols: Seq[String]): Seq[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    val rnd = new scala.util.Random(7)
    val applied = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var expected = spark.read.parquet(dir).localCheckpoint()
    (1 to 8).foreach { step =>
      val replay = step % 3 == 0
      val inc =
        if (replay) applied(rnd.nextInt(applied.length))
        else {
          val rows = Seq.fill(40)(rnd.nextInt(150)).distinct.flatMap { k =>
            val versions = if (rnd.nextInt(5) == 0) 2 else 1
            (0 until versions).map(d => (s"k$k", step * 10L + d, rnd.nextDouble()))
          }
          val df = rows.toDF("id", "ver", "v")
          if (step >= 4) df.withColumn("note", concat(lit("n"), col("ver"))) else df
        }
      // a tiny split size makes the size term of the rule exceed the cores
      val tinySplits = step == 7
      if (tinySplits) spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      val n =
        try {
          val n = graft.telecom.Pipeline.mergeBuckets(spark, Some(dir))
          graft.telecom.Pipeline.mergeParquet(spark, inc, dir, Seq("id"), "ver",
            allowSchemaEvolution = true)
          n
        } finally if (tinySplits) spark.conf.unset("spark.sql.files.maxPartitionBytes")
      if (tinySplits) assert(n > spark.sparkContext.defaultParallelism)
      if (!replay) applied += inc
      expected = keepLatest(expected, inc).localCheckpoint()
      val got = spark.read.parquet(dir)
      val cols = expected.columns.toSeq.sorted
      assert(got.columns.toSeq.sorted === cols, s"step $step")
      assert(rowsOf(got, cols) === rowsOf(expected, cols), s"step $step")
      val files = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
      assert(files === n, s"step $step")
      assert(got.withColumn("file", input_file_name())
        .groupBy("id").agg(countDistinct("file").as("files"))
        .filter(col("files") =!= 1).isEmpty, s"step $step: a key spans files")
      // the merge records the schema it committed: the next merge
      // reads the target without inferring it
      assert(Tables.memoSchema(spark, dir) === Some(got.schema), s"step $step: recorded schema")
    }
  }

  test("quantized cosine stays within 0.01 of exact float cosine (Spark)") {
    val vecs = Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"), col("embedding"))
    val pairs = vecs.as("a").join(vecs.as("b"),
        col("a.vec_id") + 1 === col("b.vec_id"))
      .select(col("a.embedding").as("ea"), col("b.embedding").as("eb"))
    val both = pairs.select(
      Similarity.cosineQ(Similarity.quantize(col("ea")),
        Similarity.quantize(col("eb"))).as("q"),
      (aggregate(zip_with(col("ea"), col("eb"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x) /
        sqrt(aggregate(transform(col("ea"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x) *
          aggregate(transform(col("eb"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (acc, x) => acc + x))).as("f"))
      .as[(Double, Double)].collect()
    both.foreach { case (q, f) => assert(math.abs(q - f) < 0.01, s"$q vs $f") }
  }
}
