package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one SparkSession factory for the engine's own mains and specs,
  * plus the run step they share (`force`, then `release`).
  *
  * Every session gets the same settings:
  *   - `local[n]` with `spark.sql.shuffle.partitions = n`;
  *   - UTC session time zone and the UI off;
  *   - `spark.sql.legacy.parquet.nanosAsLong`, because events.parquet
  *     carries TIMESTAMP(NANOS);
  *   - the `GraftExtensions` rules and functions (the top-k soak's
  *     sketch aggregate, for one, is a graft function);
  *   - log level WARN.
  *
  * `n` is `SPARK_GRAFT_CPUS` when set, else the host's core count.
  * Provenance fields print the session's `defaultParallelism`, which
  * is `n`, rather than the environment string.
  *
  * `SparkEntry.entry` must not depend on any of these settings: it
  * must work on a bare session (the test-side `EntrySmoke` checks it).
  */
object GraftSession {
  /** Local cores for a session: `SPARK_GRAFT_CPUS`, else the host's. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  def apply(n: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run a query to completion through the noop sink, not count():
    * count() lets the optimizer prune every column the row count
    * doesn't need — final aggregate expressions vanish, and Spark 4
    * eliminates a left join whose right side is a unique-keyed
    * aggregate, so a "diagnostics left-joined onto the universe" query
    * (q100/q209/q237 shape) collapsed to a bare scan count (measured
    * in round 7: q237's entire surgery optimized away — 59 shuffle
    * bytes). The noop write materializes every output column through
    * the full physical plan and discards rows at the sink, which is
    * the honest definition of "run the query". */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Free what a finished query left behind; call it outside any
    * timer. Persist-based operators (PrefixSum's sorted input,
    * connectedComponents' localCheckpoints) cannot unpersist their own
    * output's lineage, and across a few hundred queries x reps the
    * pinned blocks inflate later timers through GC pressure. Queries
    * are independent — in production each runs in its own session —
    * so nothing here is needed again.
    *
    * The closing `System.gc()` collects the just-unpersisted blocks
    * now: without it, the heap pressure they leave behind is paid as
    * GC pauses inside a later query's timer — the measured mechanism
    * behind the r5 "in-suite only" drift class (q151 3.5 s isolated
    * vs 7.8 s in-suite on an identical plan). A failed sweep is
    * reported on stderr and does not stop the run. */
  def release(spark: SparkSession): Unit = {
    try {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
    } catch { case t: Throwable => System.err.println(s"[release] cache sweep failed: $t") }
    System.gc()
  }

  /** Three-decimal, locale-independent number for the JSON lines. */
  def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
}
