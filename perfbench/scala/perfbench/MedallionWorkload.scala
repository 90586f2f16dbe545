package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.telecom.{Checks, Generators, Pipeline, Silver}

/** Batch half of the `telecom` workload: the bronze→silver leg of the
  * medallion pipeline, then one untimed warm-up merge and `Merges` timed
  * incremental `Pipeline.mergeParquet` runs of ~1% increments into the
  * persisted `silver_calls`, then a replay of the last increment.
  *
  * Bronze call events come from the program's fixed-seed generator, so
  * bronze and silver row counts are fixed; the workload seed drives
  * only the increments. The bronze and silver builds run cold, right
  * after set-up, as a scheduled job does in a fresh JVM, and count as
  * set-up of the merges, as does the warm-up merge: the first merge of
  * a JVM ran ~1.5x slower than the ones after it. The full
  * `Pipeline.runAll` rebuild (gold, DQ gate, serving) is not run: cold,
  * it alone takes 23-40 s on a 4-core host, which a run cannot afford.
  */
object MedallionWorkload {
  val CallEvents = 20000
  val OutDir = "pipeline"
  val Bronze = s"$OutDir/bronze_call_events"
  val SilverCalls = s"$OutDir/silver_calls"
  val Merges = 10

  /** Rows the fixed-seed generator and the silver filters give at
    * `CallEvents` (duplicates and corrupt rows removed). */
  val ExpectedBronzeRows = 20433L
  val ExpectedSilverRows = 19794L

  def run(r: Run): Unit = {
    r.setup("medallion")(_ => Timed.deleteDirs(OutDir, "increments"))
    val rows = build(r)
    val incs = increments(r)
    // increment 1 is the warm-up merge, 2..Merges+1 the timed ones
    (1 to Merges + 1).foldLeft(rows) { (before, k) =>
      val (incRows, newKeys) = incs.getOrElse(k, (0L, 0L))
      merge(r, k, before, incRows, newKeys, timed = k > 1)
    }
    replay(r, Merges + 1)
  }

  /** Bronze, then silver, each written out and read back, then the
    * silver DQ checks; returns the silver row count. */
  private def build(r: Run): Long = {
    val spark = r.spark
    val pid = r.spans.nextId()
    Tags.set(spark, "build", "medallion", pid)
    def layer(name: String, path: String)(df: => DataFrame): (Double, Long) = {
      val t0 = Clock.nowMs
      val (wall, res) = Timed {
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path).count()
      }
      r.spans.add(Span(r.spans.nextId(), pid, "table", name, t0, Clock.nowMs))
      r.op("build", name, wall, res.isSuccess, res.failed.toOption, "rows" -> res.getOrElse(0L))
      (wall, res.getOrElse(-1L))
    }
    val t0 = Clock.nowMs
    val (bronzeS, bronzeRows) = layer("bronze_call_events", Bronze)(
      Generators.callEvents(spark, CallEvents).toDF())
    val (silverS, silverRows) = layer("silver_calls", SilverCalls)(
      Silver.silverCalls(spark.read.parquet(Bronze)))
    val g0 = Clock.nowMs
    val silver = spark.read.parquet(SilverCalls)
    val gate = Seq(Checks.notNull(silver, "silver_calls", "call_id"),
      Checks.unique(silver, "silver_calls", "call_id"))
    val g1 = Clock.nowMs
    r.spans.add(Span(r.spans.nextId(), pid, "table", "gate", g0, g1))
    r.spans.add(Span(pid, r.rootSpan, "pipeline", "bronze to silver", t0, g1))
    r.record("medallion") = Map("bronze_s" -> bronzeS, "silver_s" -> silverS,
      "gate_s" -> (g1 - g0) / 1000, "rows_written" -> (bronzeRows + silverRows))
    r.check("bronze rows as recorded", bronzeRows == ExpectedBronzeRows, bronzeRows)
    r.check("silver rows as recorded", silverRows == ExpectedSilverRows, silverRows)
    r.check("silver_calls DQ gate", Checks.verdict(gate) == "HEALTHY",
      gate.map(c => s"${c.checkName}=${c.passed}"))
    silverRows
  }

  /** Increments 1..`Merges`+1, written out before any merge so the timed
    * merges read files rather than the table they rewrite. Increment k
    * takes the silver keys whose hash of (key, seed) falls in bucket k
    * of 100 (~1% each, disjoint): half re-versioned a day later as
    * updates, half re-keyed as new rows. Returns (rows, new keys) per
    * increment. */
  private def increments(r: Run): Map[Int, (Long, Long)] = {
    val spark = r.spark
    Tags.set(spark, "prepare", "increments", r.rootSpan)
    val seed = r.args.seed
    val picked = spark.read.parquet(SilverCalls)
      .withColumn("k", pmod(xxhash64(col("call_id"), lit(seed)), lit(100L)).cast("int"))
      .filter(col("k").between(1, Merges + 1))
    val isNew = pmod(xxhash64(col("call_id"), lit(seed + 1)), lit(2L)) === 0
    picked
      .withColumn("_new", isNew)
      .withColumn("call_id", when(isNew, concat(col("call_id"), lit(s"-n$seed"))).otherwise(col("call_id")))
      .withColumn("_bronze_ingested_at", when(isNew, col("_bronze_ingested_at"))
        .otherwise(col("_bronze_ingested_at") + expr("INTERVAL 1 DAY")))
      .withColumn("duration_seconds", when(isNew, col("duration_seconds"))
        .otherwise(col("duration_seconds") + 1))
      .write.mode("overwrite").partitionBy("k").parquet("increments")
    spark.read.parquet("increments").groupBy("k")
      .agg(count(lit(1)), sum(col("_new").cast("long"))).collect()
      .map(row => row.getInt(0) -> (row.getLong(1), row.getLong(2))).toMap
  }

  private def increment(r: Run, k: Int): DataFrame =
    r.spark.read.parquet(s"increments/k=$k").drop("_new")

  private def merge(r: Run, k: Int, rowsBefore: Long, incRows: Long, newKeys: Long,
                    timed: Boolean): Long = {
    val spark = r.spark
    val inc = increment(r, k)
    val mid = r.spans.nextId()
    Tags.set(spark, if (timed) "window" else "warmup", s"merge$k", mid)
    val t0 = Clock.nowMs
    val (wall, res) = Timed(Pipeline.mergeParquet(spark, inc, SilverCalls,
      Seq("call_id"), "_bronze_ingested_at"))
    if (timed) r.timed(t0)
    r.spans.add(Span(mid, r.rootSpan, if (timed) "merge" else "warmup", s"merge$k", t0,
      Clock.nowMs))
    Tags.set(spark, "prepare", s"merge$k", r.rootSpan)
    val after = spark.read.parquet(SilverCalls).count()
    val ok = res.isSuccess && after == rowsBefore + newKeys
    r.check(s"merge$k rows", ok, s"before=$rowsBefore new=$newKeys after=$after")
    r.op(if (timed) "merge" else "warmup_merge", s"merge$k", wall, ok, res.failed.toOption,
      "increment_rows" -> incRows, "new_keys" -> newKeys, "rows_before" -> rowsBefore)
    after
  }

  /** Replaying an applied increment must change nothing. */
  private def replay(r: Run, k: Int): Unit = {
    val spark = r.spark
    Tags.set(spark, "prepare", "replay", r.rootSpan)
    def digest(): (Long, String) = {
      val row = spark.read.parquet(SilverCalls)
        .select(count(lit(1)), sum(xxhash64(col("*")).cast("decimal(38,0)")).cast("string"))
        .head()
      (row.getLong(0), row.getString(1))
    }
    val before = digest()
    val (wall, res) = Timed(Pipeline.mergeParquet(spark, increment(r, k),
      SilverCalls, Seq("call_id"), "_bronze_ingested_at"))
    val after = digest()
    val ok = res.isSuccess && before == after
    r.check("replayed increment is a no-op", ok, s"before=$before after=$after")
    r.op("replay", s"replay$k", wall, ok, res.failed.toOption)
  }
}
