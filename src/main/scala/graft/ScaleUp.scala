package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale-point generator for the growth-exponent sweep
  * (ScaleSweep). The driver ships sf0.001/0.01/0.1 only; proving the
  * "would this plan survive a 10-100x scale-up" claim on the heavy
  * tail needs one more decade, so this main derives an sf1 directory
  * from the read-only sf0.1 tables, entirely inside the repo's
  * (gitignored) target/ dir.
  *
  * Scaled 10x — the three tables the heavy-tail queries scan:
  *  - documents: 10 replicas; replica 0 is the original, replicas
  *    1-9 re-key doc_id and deterministically perturb the text (each
  *    token replaced with probability ~1/7 by an xxhash64-chosen
  *    token from the corpus vocabulary). Perturbed replicas keep the
  *    per-doc length/shape marginals, stay near-dup to their origin
  *    (Jaccard well below 1, so exact dedup does NOT collapse them),
  *    and share shingles across replicas — the similarity graph
  *    densifies with corpus size exactly as a self-similar web crawl
  *    does, which is the stress the sweep wants.
  *  - lineitem / orders: 10 replicas with the order key re-keyed per
  *    replica and all other keys (custkey, partkey, suppkey) kept in
  *    their original universe: 10x the facts over the same catalog,
  *    the realistic growth mode for the basket-pair and HITS graphs
  *    (edge count x10, node universe fixed).
  *
  * All other tables are byte-copied at sf0.1 so the directory is a
  * complete Tables.load target; only queries over the three scaled
  * tables read a true sf1. Deterministic (hash-derived, no RNG state)
  * — two runs produce identical tables.
  */
object ScaleUp {
  val ScaledTables = Seq("documents", "lineitem", "orders", "embeddings")

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "target/sf1")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val spark = GraftSession()

    writeAll(spark, src, out, replicas)
    spark.stop()
    println(s"""{"scaleup":"done","out":"$out","replicas":$replicas}""")
  }

  /** Name of the completion marker `writeAll` stamps LAST: a sweep
    * that finds tables but no marker (crash mid-write, or an older
    * run with a different replica count) must regenerate rather than
    * silently consume a mixed-scale directory. */
  val DoneMarker = "_SCALEUP_DONE"

  /** True iff `out` holds a COMPLETED writeAll at this replica count
    * derived from this source. */
  def isComplete(out: String, src: String, replicas: Int): Boolean = {
    val p = java.nio.file.Paths.get(s"$out/$DoneMarker")
    java.nio.file.Files.exists(p) &&
      java.nio.file.Files.readString(p).trim == s"replicas=$replicas src=$src"
  }

  def writeAll(spark: SparkSession, src: String, out: String, replicas: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val marker = java.nio.file.Paths.get(s"$out/$DoneMarker")
    java.nio.file.Files.deleteIfExists(marker)
    scaleDocuments(Tables.documents(spark, src), replicas)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    scaleByOrderKey(Tables.lineitem(spark, src), "l_orderkey", replicas)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")
    scaleByOrderKey(Tables.orders(spark, src), "o_orderkey", replicas)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")
    scaleEmbeddings(Tables.embeddings(spark, src), replicas)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    // remaining tables: copy unscaled so the dir is load-complete
    for (t <- Tables.names if !ScaledTables.contains(t))
      Tables.load(spark, src, t)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    // stamped last: presence certifies every table above landed
    java.nio.file.Files.writeString(marker, s"replicas=$replicas src=$src\n")
  }

  /** 10 replicas of documents; text perturbed per (replica, doc,
    * token-position) via xxhash64 — one codegen'd transform() HOF,
    * no UDF, no driver-side text handling. The vocabulary literal is
    * a bounded collect (distinct tokens of a synthetic corpus, ~50). */
  def scaleDocuments(d: DataFrame, replicas: Int): DataFrame = {
    val spark = d.sparkSession
    val idSpan = d.agg(max("doc_id")).head().getLong(0) + 1
    val vocab: Array[String] = d
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct()
      .collect().map(_.getString(0)).sorted
    val vocabLit = array(vocab.map(lit): _*)
    val copies = (0 until replicas).map { r =>
      if (r == 0) d
      else {
        val newText = concat_ws(" ",
          transform(split(col("text"), " "), (t, i) =>
            when(pmod(xxhash64(col("doc_id"), i, lit(r)), lit(7)) === 0,
              element_at(vocabLit,
                (pmod(xxhash64(col("doc_id"), i, lit(r + 1000)), lit(vocab.length)) + 1)
                  .cast("int")))
              .otherwise(t)))
        d.select(
          (col("doc_id") + lit(r.toLong * idSpan)).as("doc_id"),
          newText.as("text"), col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("bigint"))
          .select("doc_id", "text", "lang", "source", "n_chars")
      }
    }
    // unionByName: replica 0 carries the parquet file's column order,
    // which nothing guarantees matches the select order above — a
    // positional union over all-string columns would silently scramble
    copies.reduce(_.unionByName(_))
  }

  /** 10 replicas of embeddings with a ±0.01 hash-derived per-element
    * jitter (±10 units on the q49 integer-quantization scale): each
    * replica stays in its origin's cosine neighborhood — cluster
    * structure and label marginals survive — without collapsing to
    * exact duplicates, so the ANN ladder's recall problem stays as
    * hard per query as the original. vec_id span is a multiple of 10
    * in the driver data, so the `vec_id % 10` query-set convention
    * (q49 et al.) replicates with the corpus. */
  def scaleEmbeddings(d: DataFrame, replicas: Int): DataFrame = {
    val idSpan = d.agg(max("vec_id")).head().getLong(0) + 1
    val copies = (0 until replicas).map { r =>
      if (r == 0) d
      else d.select(
        (col("vec_id") + lit(r.toLong * idSpan)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + (pmod(xxhash64(col("vec_id"), i, lit(r)), lit(21)) - lit(10))
            .cast("float") / lit(1000.0f)).cast("float")).as("embedding"),
        col("label"))
    }
    copies.reduce(_.unionByName(_))
  }

  /** 10 replicas of a fact table, re-keying only the order key so
    * the customer/part/supplier universes stay fixed. */
  def scaleByOrderKey(d: DataFrame, orderKey: String, replicas: Int): DataFrame = {
    val keySpan = d.agg(max(orderKey)).head().getLong(0) + 1
    val copies = (0 until replicas).map { r =>
      d.withColumn(orderKey, col(orderKey) + lit(r.toLong * keySpan))
    }
    copies.reduce(_.unionByName(_))
  }
}
