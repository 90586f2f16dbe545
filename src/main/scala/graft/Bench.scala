package graft

import org.apache.spark.sql.SparkSession

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
  *   - A failed warm-up or query does not stop the run: every query
  *     is still timed and every line printed. Then the process exits
  *     1, naming the failures on stderr, as graft.Verify does.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val warmupFailed = scala.collection.mutable.ArrayBuffer[String]()
    // warm-up: touch every table + run one small query end to end
    // (codegen, parquet footer reads, shuffle machinery), and
    // pre-materialize the generated fixtures — they stand in for the
    // driver's parquet tables, so input materialization stays outside
    // the per-query timers (the timed queries still scan them).
    try {
      Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
      queries.TelecomOps.warmFixtures(spark, sfDir)
      queries.MultimodalOps.warmFixtures(spark, sfDir)
      queries.TextOps.warmFixtures(spark, sfDir)
      SparkEntry.queries.get("q01_pricing_summary")
        .foreach(fn => fn(spark, sfDir).write.format("noop")
          .mode("overwrite").save())
    } catch {
      // stderr keeps the stdout JSON line clean but makes a failed
      // warm-up visible: the first fixture-dependent query would
      // otherwise silently absorb materialization into its timer
      case t: Throwable =>
        System.err.println(s"[bench] warm-up failed: $t")
        warmupFailed += "warm-up"
    }

    // Force queries through the NOOP SINK, not count(): count() lets
    // the optimizer prune every column the row count doesn't need —
    // final aggregate expressions vanish, and Spark 4 eliminates a
    // left join whose right side is a unique-keyed aggregate, so a
    // "diagnostics left-joined onto the universe" query (q100/q209/
    // q237 shape) collapsed to a bare scan count (measured in round
    // 7: q237's entire surgery optimized away — 59 shuffle bytes).
    // The noop write materializes every output column through the
    // full physical plan and discards rows at the sink, which is the
    // honest definition of "run the query".
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { force(fn(spark, sfDir)); true } catch {
        case t: Throwable => System.err.println(s"[bench] query failed: $t"); false
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // free leaked block-manager state AFTER the timer: persist-based
      // operators (PrefixSum's sorted input, connectedComponents'
      // localCheckpoints) cannot unpersist their own output's lineage,
      // and across 115 queries x reps the pinned blocks inflate later
      // timers through GC pressure. Queries are independent — in
      // production each runs in its own session — so nothing here is
      // needed again (the next rep rebuilds its plan from scratch).
      try {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = false))
      } catch { case t: Throwable => System.err.println(s"[bench] cache sweep failed: $t") }
      // collect the just-unpersisted blocks NOW, outside any timer:
      // without this, the heap pressure they leave behind is paid as
      // GC pauses INSIDE a later query's timer — the measured
      // mechanism behind the r5 "in-suite only" drift class (q151
      // 3.5 s isolated vs 7.8 s in-suite on an identical plan)
      System.gc()
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
    // timer, so the timing protocol is unchanged.
    val profiler = TaskMetricsProfiler.install(spark)
    val profiles = Seq.newBuilder[(String, TaskMetricsProfiler.Profile)]
    val results = selected.map { case (name, fn) =>
      profiler.reset()
      val first = timeOnce(fn)
      profiles += name -> profiler.snapshot(spark)
      val samples = first +: (2 to reps).map(_ => timeOnce(fn))
      name -> (if (samples.forall(_._2)) best(samples.map(_._1)) else -1.0)
    }
    // Short keys (q01_pricing_summary -> q01) + 3dp keep the JSON line
    // well under the driver's output-capture tail so it stays
    // parseable; any qNN prefix collision falls back to full names so
    // no timing can silently vanish behind a duplicate JSON key.
    def fmt(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val shortKeys = results.map(_._1.takeWhile(_ != '_'))
    val useShort = shortKeys.distinct.length == shortKeys.length
    val qs = results.zip(shortKeys).map { case ((k, v), sk) =>
      "\"" + (if (useShort) sk else k) + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    // failed queries (sentinel -1.0) stay out of the total
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
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
        catch { case t: Throwable =>
          System.err.println(s"[bench] stream latency failed: $t"); None }
      else None
    // State-store boundedness evidence (round-6 verdict item 5): the
    // at-ingest dedup's state rows/bytes over >=100 micro-batches must
    // plateau under event-time expiry; the quarter-point series +
    // plateau ratio land in the same artifact.
    val stateBatches =
      sys.env.getOrElse("SPARK_GRAFT_STATE_BATCHES", "100").toInt
    val stateLine: Option[String] =
      if (stateBatches > 0 && wanted.isEmpty)
        try Some(StreamBench.measureState(spark, stateBatches))
        catch { case t: Throwable =>
          System.err.println(s"[bench] stream state failed: $t"); None }
      else None
    // Provenance (round-5 verdict item 4): timestamp + environment so
    // the committed artifact is self-evidencing about when/where it ran.
    val prov = {
      val utc = java.time.Instant.now().toString
      s""""generated_utc":"$utc","spark":"${org.apache.spark.SPARK_VERSION}","cpus":$cpus,"java":"${System.getProperty("java.version")}""""
    }
    val streamField = streamLine.map(l => s""","stream_latency":$l""").getOrElse("") +
      stateLine.map(l => s""","stream_state":$l""").getOrElse("")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"queries":$qs,"sf":"$sfDir",$prov$streamField}"""
    // The driver keeps only a ~2 KB stdout TAIL, and the full-suite
    // per-query map is ~4.5 KB — every BENCH_r0N.json through r9
    // truncated mid-map with parsed:null. So stdout carries the map
    // INLINE only while it fits the tail budget; otherwise a pointer
    // to BENCH_DETAIL.json (which always holds the full map) takes
    // its place, and the whole stdout record fits the capture window
    // intact (round-9 verdict item 7).
    val stdoutLine =
      if (qs.length <= 1200) line
      else s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"nqueries":${results.length},"failed":$failed,"queries_file":"BENCH_DETAIL.json","sf":"$sfDir",$prov}"""
    val summary =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"nqueries":${results.length},"failed":$failed,"sf":"$sfDir",$prov}"""
    // Physical profile object: per-query bytes moved + suite totals.
    // The totals line makes the zero-spill claim checkable at a glance.
    val profJson: Option[String] = try {
      val profs = profiles.result()
      val pShort = profs.map(_._1.takeWhile(_ != '_'))
      val pUseShort = pShort.distinct.length == pShort.length
      val pQs = profs.zip(pShort).map { case ((k, p), sk) =>
        "\"" + (if (pUseShort) sk else k) + "\":" + p.json
      }.mkString("{", ",", "}")
      val tot = TaskMetricsProfiler.Profile(
        profs.map(_._2.inputBytes).sum, profs.map(_._2.shuffleReadBytes).sum,
        profs.map(_._2.shuffleWriteBytes).sum, profs.map(_._2.diskSpillBytes).sum,
        profs.map(_._2.memSpillBytes).sum, profs.map(_._2.tasks).sum)
      Some(s"""{"sf":"$sfDir",$prov,"totals":${tot.json},"queries":$pQs}""")
    } catch { case t: Throwable =>
      System.err.println(s"[bench] profile build failed: $t"); None }
    // SPARK_GRAFT_BENCH_OUT redirects the WHOLE record (timings +
    // profile) to one named artifact — the constrained-resource runs
    // (BENCH_LOWMEM.json, round-9 verdict item 3) go there so a
    // targeted pass can never clobber the committed full-suite maps.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").filter(_.nonEmpty) match {
      case Some(path) =>
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(path),
          s"""{"heap":"${Runtime.getRuntime.maxMemory() / (1024L * 1024)}m","bench":$line,"profile":${profJson.getOrElse("null")}}""" + "\n")
        catch { case t: Throwable => System.err.println(s"[bench] out write failed: $t") }
      case None =>
        // Full per-query detail lands in a repo file (overwritten per
        // run) so truncated stdout can never lose the per-query record;
        // the profile map is full-suite-only (a dev-loop subset would
        // clobber the committed full map).
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_DETAIL.json"), line + "\n")
        catch { case t: Throwable => System.err.println(s"[bench] detail write failed: $t") }
        if (wanted.isEmpty) profJson.foreach { pj =>
          try java.nio.file.Files.writeString(
            java.nio.file.Paths.get("BENCH_PROFILE.json"), pj + "\n")
          catch { case t: Throwable => System.err.println(s"[bench] profile write failed: $t") }
        }
        // The slim driver-readable record also lands in its own file:
        // stdout capture windows truncate, sbt used to prefix, but a
        // committed one-line artifact always parses end-to-end
        // (round-10 verdict item 4).
        if (wanted.isEmpty) {
          try java.nio.file.Files.writeString(
            java.nio.file.Paths.get("BENCH_SLIM.json"), summary + "\n")
          catch { case t: Throwable => System.err.println(s"[bench] slim write failed: $t") }
        }
    }
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
    // BENCH_DETAIL.json is invisible to it, so per-query regressions
    // went undetected for two rounds (PERF_r12 n_common: 0). Emitted
    // between the leading and trailing slim totals, ADDITIONS-ONLY:
    // every pre-existing line (and its position as first/last) is
    // unchanged, so first-line and tail parsers see what they always
    // saw, and a whole-capture parser now gets the full per-query map
    // even when a single inline map line would overflow the capture.
    if (wanted.isEmpty) results.zip(shortKeys).foreach { case ((k, v), sk) =>
      println(s"""{"metric":"query","name":"${if (useShort) sk else k}","sec":${fmt(v)}}""")
    }
    println(stdoutLine)
    streamLine.foreach(println)
    stateLine.foreach(println)
    println(summary)
    System.out.flush()
    val failures = warmupFailed ++ results.collect { case (n, v) if v < 0 => n }
    if (failures.nonEmpty) {
      System.err.println(s"[bench] ${failures.size} failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
  }
}
