package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.TextAnalysis

/** Corpus- and table-level statistics panels (round 8): the
  * diminishing-returns vocabulary curve a data-curation team reads
  * before buying/crawling MORE of a source, and the ANALYZE-style
  * column statistics sheet the CBO consumes (SURVEY.md S13's surface
  * as an oracle row; reference dbt tests only assert freshness, the
  * warehouse's ANALYZE does the stats pass).
  */
object CorpusStats {

  type Q = (SparkSession, String) => DataFrame

  /** q277 — SHARD VOCABULARY CURVE (diminishing returns of more
    * data): docs are hashed into 8 deterministic shards; for each
    * shard in order, how many distinct grams appear there AT ALL
    * (`shard_vocab`), how many appear for the FIRST time
    * (`new_grams`), the cumulative vocabulary after this shard, and
    * the novelty rate — the heap's-law curve that tells a curation
    * team whether the next crawl batch of a source still adds
    * vocabulary or just repeats it (the acquisition-ordering signal
    * behind "data ablations" in pretraining recipes).
    *
    * Scale shape: one (shard, gram)-distinct shuffle, a gram-keyed
    * min-shard aggregate, then arithmetic over the 8-row shard
    * dimension — the cumulative window runs on 8 rows
    * (PlanHygieneSpec-allowlisted), never on data. */
  def q277ShardVocabCurve(s: SparkSession, dir: String): DataFrame = {
    val shard = (conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long") % lit(8L)).cast("int")
    val st = Tables.documents(s, dir)
      .select(shard.as("shard"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
      .distinct()
    val perShard = st.groupBy("shard").agg(count(lit(1)).as("shard_vocab"))
    val news = st.groupBy("tok").agg(min("shard").as("shard"))
      .groupBy("shard").agg(count(lit(1)).as("new_grams"))
    val cum = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perShard.join(news, Seq("shard"), "left")
      .withColumn("new_grams", coalesce(col("new_grams"), lit(0L)))
      .withColumn("cum_vocab", sum(col("new_grams")).over(cum))
      .withColumn("novelty_rate",
        (col("new_grams").cast("double") / col("shard_vocab")).cast("double"))
      .orderBy("shard")
  }

  /** q278 — COLUMN STATISTICS PANEL (ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR COLUMNS, as a query): per numeric lineitem
    * column, row/null counts, exact NDV, min/max, and the mean — the
    * sufficient statistics a cost-based optimizer feeds on
    * (SURVEY.md S13; Serving.analyze fills the catalog, this emits
    * the same numbers as a verifiable row). The mean rides an exact
    * integer cents sum (doubles summed in shuffle order are not
    * reproducible cross-engine; a BIGINT sum is) with ONE double
    * division at the end. Scale shape: one unpivoted scan with
    * map-side partial aggregation; the NDV leg is the only shuffle,
    * keyed by (column, value). */
  def q278ColumnStats(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(expr(
        "stack(3, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice, " +
          "'l_discount', l_discount) AS (col_name, v)"))
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col("v")).as("ndv"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        sum(round(col("v") * 100).cast("long")).as("sum_cents"))
      .withColumn("mean_v",
        (col("sum_cents").cast("double") /
          ((col("n_rows") - col("n_nulls")) * 100).cast("double")).cast("double"))
      .orderBy("col_name")

  val queries: Map[String, Q] = Map(
    "q277_shard_vocab_curve" -> q277ShardVocabCurve _,
    "q278_column_stats" -> q278ColumnStats _)

  val oracles: Map[String, String] = Map(
    "q277_shard_vocab_curve" ->
      s"""WITH d AS (
         |  SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
         |           AS BIGINT) % 8 AS INTEGER) AS shard,
         |         regexp_split_to_array(lower(trim(text)), ' +') AS toks
         |  FROM documents),
         |st AS (SELECT DISTINCT shard, tok
         |       FROM (SELECT shard, unnest(toks) AS tok FROM d)),
         |per AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS shard_vocab
         |        FROM st GROUP BY 1),
         |fs AS (SELECT tok, MIN(shard) AS shard FROM st GROUP BY 1),
         |nw AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS new_grams
         |       FROM fs GROUP BY 1)
         |SELECT p.shard, p.shard_vocab,
         |  CAST(COALESCE(n.new_grams, 0) AS BIGINT) AS new_grams,
         |  CAST(SUM(COALESCE(n.new_grams, 0)) OVER (ORDER BY p.shard)
         |    AS BIGINT) AS cum_vocab,
         |  CAST(CAST(COALESCE(n.new_grams, 0) AS DOUBLE) / p.shard_vocab
         |    AS DOUBLE) AS novelty_rate
         |FROM per p LEFT JOIN nw n USING (shard)
         |ORDER BY shard""".stripMargin,
    "q278_column_stats" ->
      s"""WITH u AS (
         |  SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
         |  UNION ALL
         |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
         |  UNION ALL
         |  SELECT 'l_discount', l_discount FROM lineitem)
         |SELECT col_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
         |  MIN(v) AS min_v,
         |  MAX(v) AS max_v,
         |  CAST(SUM(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
         |  CAST(CAST(SUM(CAST(round(v * 100) AS BIGINT)) AS DOUBLE) /
         |    CAST((COUNT(*) - SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)) * 100
         |      AS DOUBLE) AS DOUBLE) AS mean_v
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)
}
