package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON metrics line (driver contract).
  *
  * Methodology (round 4):
  *   - A warm-up pass absorbs session/codegen initialization so
  *     per-query numbers measure the queries, not the JVM.
  *   - Each query is timed SPARK_GRAFT_BENCH_REPS times (default 3)
  *     and the MINIMUM is reported. Round 3 recorded 3-4x swings on
  *     unchanged queries (q91/q92) from one-off GC / shared-JVM
  *     interference in a single-shot run; round 4 then measured the
  *     stronger phenomenon: SUSTAINED noisy-neighbor windows minutes
  *     long (q105 9.6 s and 39 s on identical code in consecutive
  *     runs; q01/q110 3-15x inflated in one full-suite pass, clean
  *     the next), during which even a median of 3 reports the
  *     neighbors, not the code. The minimum needs only ONE clean rep
  *     to measure the query — the standard estimator for timing
  *     under external load — and reps are consecutive, so any rep
  *     that lands outside the bad window rescues the number.
  *   - Round-4 measured caveat: HOST throughput also drifts across a
  *     long session (identical isolated queries measured 1.6x slower
  *     an hour apart; suite totals drifted 48->63 s across four runs
  *     of near-identical code). Interleaved full-suite passes were
  *     tried and rejected: they do not beat the drift either (it is
  *     monotone, not transient) and they forfeit the warm-cache
  *     locality a rerun legitimately has. Cross-ROUND comparisons
  *     should therefore weigh per-query ratios against same-run
  *     neighbors, not absolute seconds.
  *   - The JSON metric line is printed AFTER spark.stop(), as the
  *     very last stdout line, so the driver's tail-parser always
  *     sees it (BENCH_r03 recorded parsed:null because shutdown
  *     logging could trail the metric line).
  *   - A failed warm-up, query, stream-latency or stream-state
  *     measurement (a soak stream reporting `{"error":…}` included)
  *     does not stop the run: every query is still timed and every
  *     line printed. Then the process exits 1, naming the failures on
  *     stderr, as graft.Verify does.
  *
  * One record file per run. Stdout carries the summary, per-query,
  * map-or-pointer and stream lines;
  * everything else lands in ONE JSON file at `SPARK_GRAFT_BENCH_OUT`
  * (default BENCH_DETAIL.json): `heap`, `bench` (the full line:
  * total, every per-query time, the stream latency and stream state
  * objects, provenance) and `profile` (per-query input/shuffle/spill
  * bytes plus suite totals). A targeted run writes the same record
  * for its subset, so point `SPARK_GRAFT_BENCH_OUT` elsewhere to keep
  * a committed full-suite record (the constrained-resource runs,
  * BENCH_LOWMEM.json, round-9 verdict item 3, go there).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val recordPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").filter(_.nonEmpty)
      .getOrElse("BENCH_DETAIL.json")
    val spark = GraftSession()
    import GraftSession.{fmt, force, release}

    // each failure is named on stderr where it happens and listed again
    // in the closing exit-1 message
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    def failed(what: String, t: Throwable): Unit = {
      System.err.println(s"[bench] $what failed: $t")
      failures += what
    }
    // warm-up: touch every table + run one small query end to end
    // (codegen, parquet footer reads, shuffle machinery), and
    // pre-materialize the generated fixtures — they stand in for the
    // driver's parquet tables, so input materialization stays outside
    // the per-query timers (the timed queries still scan them); the
    // persisted IVF indexes q216/q280 serve from are built here too.
    try {
      Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
      queries.TelecomOps.warmFixtures(spark, sfDir)
      queries.MultimodalOps.warmFixtures(spark, sfDir)
      queries.TextOps.warmFixtures(spark, sfDir)
      queries.SimilarityOps.warmIndexes(spark, sfDir)
      SparkEntry.queries.get("q01_pricing_summary").foreach(fn => force(fn(spark, sfDir)))
    } catch {
      // a failed warm-up counts as a failure: the first fixture-dependent
      // query would otherwise silently absorb materialization into its timer
      case t: Throwable => failed("warm-up", t)
    }

    // GraftSession.force runs each query through the noop sink (its
    // scaladoc: count() let the optimizer prune whole joins), and
    // release sweeps leaked blocks and collects them AFTER the timer
    def timeOnce(fn: (SparkSession, String) => DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { force(fn(spark, sfDir)); true } catch {
        case t: Throwable => System.err.println(s"[bench] query failed: $t"); false
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      release(spark)
      (elapsed, ok)
    }
    // min over reps: one clean rep measures the query even when a
    // sustained noisy-neighbor window eats the others (see scaladoc)
    def best(xs: Seq[Double]): Double = xs.min
    // optional args: restrict to queries whose name or qNN prefix is
    // listed (dev loop for timing one query without the full suite)
    val wanted = args.toSet
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      wanted.isEmpty || wanted(n) || wanted(n.takeWhile(_ != '_'))
    }
    // a failing query reports the sentinel -1.0, NOT its (near-zero)
    // fail-fast elapsed time — otherwise a broken query would IMPROVE
    // the total exactly when it breaks, invisible in the JSON line.
    // The first rep is additionally profiled (input/shuffle/spill
    // bytes — deterministic, so one rep characterizes the plan); the
    // listener accumulates off-thread and the drain happens after the
    // timer, so the timing protocol is unchanged. Each reset tags the
    // query's jobs, and only stages of tagged jobs count, so a
    // straggler of the previous query's last rep stays out.
    val profiler = TaskMetricsProfiler.install(spark)
    val profiles = Seq.newBuilder[TaskMetricsProfiler.Profile]
    val results = selected.map { case (name, fn) =>
      profiler.reset()
      val first = timeOnce(fn)
      profiles += profiler.snapshot(spark)
      val samples = first +: (2 to reps).map(_ => timeOnce(fn))
      name -> (if (samples.forall(_._2)) best(samples.map(_._1)) else -1.0)
    }
    // Short keys (q01_pricing_summary -> q01) + 3dp keep the JSON line
    // well under the driver's output-capture tail so it stays
    // parseable; any qNN prefix collision falls back to full names so
    // no timing can silently vanish behind a duplicate JSON key.
    val shortKeys = results.map(_._1.takeWhile(_ != '_'))
    val useShort = shortKeys.distinct.length == shortKeys.length
    val keys = if (useShort) shortKeys else results.map(_._1)
    val qs = keys.zip(results).map { case (k, (_, v)) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    // failed queries (sentinel -1.0) stay out of the total
    val total = results.map(_._2).filter(_ >= 0).sum
    val failedQueries = results.collect { case (n, v) if v < 0 => n }
    failures ++= failedQueries
    // Streaming latency rides along in the same artifact (round-5
    // verdict item 5): the fraud-detection path's p50/p95/max
    // micro-batch latency, measured on this same session AFTER the
    // batch timers so it cannot perturb them. 0 batches skips it
    // (and the full-suite run only — dev loops timing one query pass
    // query-name args, which also skips).
    val streamBatches =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "60").toInt
    val streamReps =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_REPS", "2").toInt
    val streamLine: Option[String] =
      if (streamBatches > 0 && wanted.isEmpty)
        try Some(StreamBench.measure(spark, streamBatches, streamReps))
        catch { case t: Throwable => failed("stream latency", t); None }
      else None
    // State-store boundedness evidence (round-6 verdict item 5): the
    // at-ingest dedup's state rows/bytes over >=100 micro-batches must
    // plateau under event-time expiry; the quarter-point series +
    // plateau ratio land in the same artifact. A soak stream that
    // threw reports {"error":…} in the line and counts as a failure.
    val stateBatches =
      sys.env.getOrElse("SPARK_GRAFT_STATE_BATCHES", "100").toInt
    val stateLine: Option[String] =
      if (stateBatches > 0 && wanted.isEmpty)
        try Some(StreamBench.measureState(spark, stateBatches,
          name => failures += s"stream state $name"))
        catch { case t: Throwable => failed("stream state", t); None }
      else None
    // Provenance (round-5 verdict item 4): timestamp + environment so
    // the committed artifact is self-evidencing about when/where it ran.
    val prov = {
      val utc = java.time.Instant.now().toString
      s""""generated_utc":"$utc","spark":"${org.apache.spark.SPARK_VERSION}","cpus":${spark.sparkContext.defaultParallelism},"java":"${System.getProperty("java.version")}""""
    }
    val streamField = streamLine.map(l => s""","stream_latency":$l""").getOrElse("") +
      stateLine.map(l => s""","stream_state":$l""").getOrElse("")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"queries":$qs,"sf":"$sfDir",$prov$streamField}"""
    // The driver keeps only a ~2 KB stdout TAIL, and the full-suite
    // per-query map is ~4.5 KB — every BENCH_r0N.json through r9
    // truncated mid-map with parsed:null. So stdout carries the map
    // INLINE only while it fits the tail budget; otherwise a pointer
    // to the record file (which always holds the full map) takes its
    // place, and the whole stdout record fits the capture window
    // intact (round-9 verdict item 7).
    val stdoutLine =
      if (qs.length <= 1200) line
      else s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"nqueries":${results.length},"failed":${failedQueries.size},"queries_file":"$recordPath","sf":"$sfDir",$prov}"""
    val summary =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"nqueries":${results.length},"failed":${failedQueries.size},"sf":"$sfDir",$prov}"""
    // Physical profile object: per-query bytes moved + suite totals.
    // The totals line makes the zero-spill claim checkable at a glance.
    val profs = profiles.result()
    val profJson = {
      val pQs = keys.zip(profs).map { case (k, p) => s""""$k":${p.json}""" }
        .mkString("{", ",", "}")
      val tot = profs.foldLeft(TaskMetricsProfiler.Profile.zero)(_ + _)
      s"""{"sf":"$sfDir",$prov,"totals":${tot.json},"queries":$pQs}"""
    }
    // The one record file (see scaladoc): overwritten per run, so a
    // truncated stdout can never lose the per-query record.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(recordPath),
      s"""{"heap":"${Runtime.getRuntime.maxMemory() / (1024L * 1024)}m","bench":$line,"profile":$profJson}""" + "\n")
    catch { case t: Throwable => failed(s"record write ($recordPath)", t) }
    // stop FIRST so no Spark shutdown logging can trail the metric
    // lines on stdout; the driver parses the last line it captures.
    try spark.stop() catch { case _: Throwable => () }
    // Slim total FIRST (a first-line parser finds pure JSON) and LAST
    // (a tail parser finds it before only sbt's "[success]" epilogue);
    // the richer map/pointer + stream lines sit between. Targeted
    // (dev-loop) runs keep the queries-map line first — ab_bench.sh
    // reads it.
    if (wanted.isEmpty) println(summary)
    // Per-query seconds, one parseable JSON line each (round 13,
    // verdict item 2): the driver's PERF comparator reads stdout —
    // the record file is invisible to it, so per-query regressions
    // went undetected for two rounds (PERF_r12 n_common: 0). Emitted
    // between the leading and trailing slim totals, ADDITIONS-ONLY:
    // every pre-existing line (and its position as first/last) is
    // unchanged, so first-line and tail parsers see what they always
    // saw, and a whole-capture parser now gets the full per-query map
    // even when a single inline map line would overflow the capture.
    if (wanted.isEmpty) keys.zip(results).foreach { case (k, (_, v)) =>
      println(s"""{"metric":"query","name":"$k","sec":${fmt(v)}}""")
    }
    println(stdoutLine)
    streamLine.foreach(println)
    stateLine.foreach(println)
    println(summary)
    System.out.flush()
    if (failures.nonEmpty) {
      System.err.println(s"[bench] ${failures.size} failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
  }
}
