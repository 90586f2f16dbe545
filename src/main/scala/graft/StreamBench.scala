package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.FraudDetection
import graft.streaming.FraudDetection.CallPing

/** Streaming latency micro-bench for the fraud-detection path
  * (SURVEY.md ST1-ST3/J9; reference fraud_detection.py claims
  * "alerts within seconds" — README.md:304). Measures END-TO-END
  * micro-batch latency: wall time from data arrival (addData) to the
  * alert landing in the sink (processAllAvailable), which covers
  * source admission, the keyed-state shuffle, flatMapGroupsWithState
  * evaluation, state-store commit, and sink write.
  *
  * MemoryStream isolates engine latency from broker latency — the
  * number this reports is the floor a Kafka deployment adds its
  * produce/fetch RTT on top of. Batches carry a mixed workload
  * (travel pairs + velocity bursts across many customers) so the
  * state path, not an empty plan, is what's timed.
  *
  * Prints one JSON line: p50/p95/max micro-batch latency + sustained
  * events/sec, then exits.
  */
object StreamBench {

  /** Run the latency measurement on an EXISTING session and return
    * the one-line JSON metric (no printing, no session lifecycle) —
    * shared by this main and graft.Bench, which embeds the line in
    * the per-round bench artifact so the reference's "within seconds"
    * claim has a tracked number every round.
    *
    * Band pinning (round-9 verdict item 5): per-batch latency is
    * ~0.5 s of mostly state-store commit + scheduler fixed cost, so
    * host noise shows up as whole slow BATCHES, not jitter within
    * one — best-of-reps BY p50 is the streaming analogue of the
    * batch bench's min-of-reps (PLANS.md "median → minimum"), and
    * `batches` must be large enough that p95 is a real percentile
    * (at the old 20, index ⌊0.95·20⌋ = 19 made "p95" the max). */
  def measure(spark: SparkSession, batches: Int, reps: Int): String =
    (1 to math.max(1, reps)).map(_ => measureOnce(spark, batches))
      .minBy(_._1)._2

  private def measureOnce(spark: SparkSession, batches: Int): (Double, String) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val custs = 50
    val eventsPerCustPerBatch = 4 // 200 events/batch

    val mem = MemoryStream[CallPing]
    val q = FraudDetection.detectStream(mem.toDS())
      .writeStream.format("memory").queryName("latency_alerts")
      .outputMode("append").start()

    def batch(b: Int): Seq[CallPing] =
      (0 until custs).flatMap { c =>
        (0 until eventsPerCustPerBatch).map { i =>
          val seq = b * eventsPerCustPerBatch + i
          // drift coordinates so some pairs trip the travel rule and
          // the per-customer recent-call list stays populated
          CallPing(s"C$c", f"e$b%04d$c%03d$i%d",
            new Timestamp(T0 + (b * 60L + i * 10L) * 1000),
            lat = (c * 7 + seq * 3) % 170 - 85.0,
            lon = (c * 13 + seq * 11) % 350 - 175.0,
            tower_id = s"T${c % 10}")
        }
      }

    // warm-up: codegen + state-store init outside the timed window;
    // stop in finally so a mid-measure failure can't leak a running
    // query into the rest of the bench
    val lat =
      try {
        (0 until 5).foreach { b => mem.addData(batch(b)); q.processAllAvailable() }
        (5 until 5 + batches).map { b =>
          val data = batch(b)
          val t = System.nanoTime()
          mem.addData(data)
          q.processAllAvailable()
          (System.nanoTime() - t) / 1e9
        }.sorted
      } finally q.stop()
    val alerts = spark.table("latency_alerts").count()
    try spark.catalog.dropTempView("latency_alerts")
    catch { case _: Throwable => () }

    def pct(p: Double) = lat(math.min(lat.size - 1, (p * lat.size).toInt))
    val evPerBatch = custs * eventsPerCustPerBatch
    val throughput = evPerBatch * batches / lat.sum
    def fmt(v: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    (pct(0.50),
      s"""{"metric":"stream_latency","unit":"sec","batches":$batches,"events_per_batch":$evPerBatch,""" +
        s""""p50":${fmt(pct(0.50))},"p95":${fmt(pct(0.95))},"max":${fmt(lat.last)},""" +
        s""""events_per_sec":${fmt(throughput)},"alerts":$alerts}""")
  }

  /** Event-time origin of every synthetic stream here (2024-01-01 UTC). */
  private val T0 = 1704067200000L

  /** Event time of row `i` in soak batch `b`: batches advance event
    * time 30 s, rows spread over the batch's first 10 s. */
  private def soakTs(b: Int, i: Int) = new Timestamp(T0 + b * 30000L + (i % 10) * 1000L)

  /** The soak loop every `*StateSeries` shares: start `stream` into
    * a noop append sink, then per batch feed it, run the batch to
    * completion and read the state footprint. Stop in finally: a
    * mid-soak failure must not leave the query running (holding
    * state-store memory and threads) for the rest of the bench —
    * measureState catches and carries on. */
  private def soak(batches: Int, stream: Dataset[_])(
      feed: Int => Unit): Seq[(Long, Long)] = {
    val q = stream.writeStream.format("noop").outputMode("append").start()
    try (0 until batches).map { b => feed(b); q.processAllAvailable(); stateOf(q) }
    finally q.stop()
  }

  /** Per-micro-batch state-store footprint of the at-ingest MinHash
    * dedup (StreamingDedup) under event-time expiry: each batch
    * advances event time 30 s and lands `docsPerBatch` documents in
    * FRESH LSH buckets, so without the EventTimeTimeout expiry state
    * rows would grow linearly with the batch count; with it, only
    * buckets active inside the trailing `idleTimeout` survive and the
    * series plateaus. Returns (stateRows, stateBytes) after each
    * batch (the stream's one state operator, flatMapGroupsWithState)
    * — the artifact evidence (round-6 verdict item 5) that keyed
    * state is bounded by the idle window, not stream lifetime. */
  def stateSeries(spark: SparkSession, batches: Int,
                  docsPerBatch: Int = 40,
                  idleTimeout: String = "2 minutes"): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    val mem = MemoryStream[StreamingDedup.DocEvent]
    val stream = StreamingDedup.detectStream(mem.toDS(),
      watermarkDelay = "10 seconds", idleTimeout = idleTimeout)
    soak(batches, stream) { b =>
      mem.addData((0 until docsPerBatch).map { i =>
        // per-(batch, i/2) vocabulary → fresh buckets every batch;
        // odd docs near-dup their even sibling so candidates flow
        // through the state path (an empty-state stream would be a
        // vacuous plateau)
        val base = (s"token${b}x${i / 2} alpha beta gamma delta " * 4).trim
        val text = if (i % 2 == 0) base else base + " tail"
        StreamingDedup.DocEvent(b.toLong * docsPerBatch + i, text, soakTs(b, i))
      })
    }
  }

  /** Per-micro-batch state footprint of the streaming QUOTA ADMISSION
    * (QuotaAdmission, transformWithState): state is ONE counter per
    * source key, so over a fixed source universe the row count
    * plateaus at |sources| no matter how many events flow — the
    * O(|keys|) bound the operator's scaladoc claims, now measured.
    * RocksDB provider set for the query and restored after
    * (transformWithState's contract). */
  def quotaStateSeries(spark: SparkSession, batches: Int,
                       sources: Int = 50): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{AdmissionEvent, QuotaAdmission}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[AdmissionEvent]
      soak(batches, QuotaAdmission.admitStream(mem.toDS(), limit = 100)) { b =>
        mem.addData((0 until sources).flatMap { s =>
          (0 until 4).map(i =>
            AdmissionEvent(s"src$s", b * 1000L + s * 4 + i, b * 4L + i))
        })
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Per-micro-batch state footprint of the streaming TOP-K monitor
    * (TopKStream): state per in-flight window is one Misra–Gries
    * buffer of ≤ capacity pairs; event time advances 30 s per batch
    * with a FRESH key vocabulary each batch, so without window
    * finalization state would grow one window's sketch per batch —
    * with the watermark it plateaus at the in-flight window count. */
  def topkStateSeries(spark: SparkSession, batches: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    soak(batches, graft.streaming.TopKStream.sketchWindows(
        mem.toDF().toDF("ts", "key"),
        capacity = 64, windowDuration = "1 minute",
        watermarkDelay = "10 seconds")) { b =>
      mem.addData((0 until 40).map(i => (soakTs(b, i), s"k${b}x${i % 8}")))
    }
  }

  /** Per-micro-batch state footprint of the stream-stream interval
    * join (StreamEnrich.callsWithTowerLoad): both sides buffer rows
    * until the watermark clears the derived horizons, so state is
    * bounded by tolerance × arrival rate; event time advances 30 s
    * per batch and rows older than the 2-minute tolerance must
    * evict — the ≥100-batch artifact behind StreamEnrichSpec's
    * 30-batch eviction evidence. */
  def enrichStateSeries(spark: SparkSession, batches: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cMem = MemoryStream[(String, String, Timestamp)]
    val pMem = MemoryStream[(String, Timestamp, Double)]
    soak(batches, graft.streaming.StreamEnrich.callsWithTowerLoad(
        cMem.toDF().toDF("event_id", "tower_id", "call_ts"),
        pMem.toDF().toDF("tower_id", "probe_ts", "load_pct"),
        tolerance = "2 minutes", lateness = "10 seconds")) { b =>
      val t = T0 + b * 30000L
      cMem.addData((0 until 10).map(c =>
        (s"e$b-$c", s"T${c % 5}", new Timestamp(t + c * 1000L))))
      pMem.addData((0 until 10).map(p =>
        (s"T${p % 5}", new Timestamp(t + p * 1500L), (p * 7 % 100).toDouble)))
    }
  }

  /** Per-micro-batch state footprint of the streaming HLL
    * cardinality monitor (CardinalityStream): state per in-flight
    * window is ≤ 64 register rows REGARDLESS of key cardinality, so
    * a fresh 40-key vocabulary every batch (what would grow a naive
    * distinct-count's state without bound) must plateau at
    * in-flight-windows × 64 rows once the watermark finalizes old
    * windows. Completes the soak over every stateful stream
    * (round-9 verdict item 6). */
  def cardinalityStateSeries(spark: SparkSession, batches: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    soak(batches, graft.streaming.CardinalityStream.registerWindows(
        mem.toDF().toDF("ts", "key"),
        windowDuration = "1 minute", watermarkDelay = "10 seconds")) { b =>
      mem.addData((0 until 40).map(i => (soakTs(b, i), s"k${b}x$i")))
    }
  }

  /** Per-micro-batch state footprint of the streaming HDR quantile
    * monitor (HdrQuantileStream): state per in-flight window is one
    * row per OCCUPIED bucket (≤ 32·(b+1) at b=5 for any value
    * distribution), so values spanning fresh magnitudes every batch
    * plateau at in-flight-windows × occupied-buckets under the
    * watermark, never at rows-seen. */
  def hdrStateSeries(spark: SparkSession, batches: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    soak(batches, graft.streaming.HdrQuantileStream.bucketWindows(
        mem.toDF().toDF("ts", "v"),
        b = 5, windowDuration = "1 minute", watermarkDelay = "10 seconds")) { b =>
      mem.addData((0 until 40).map(i => (soakTs(b, i), (i.toLong * 997 + b) % 100000L)))
    }
  }

  /** Per-micro-batch state footprint of the streaming quality gate's
    * rule counters (QualityGateStream.ruleCounts): state per
    * in-flight window is one row per (window, rule) — bounded by the
    * FIXED rule vocabulary (the q212 kernel's rules + the _kept /
    * _rejected synthetics) regardless of document volume or content
    * variety, so fresh doc ids and varied texts every batch must
    * plateau at in-flight-windows × |rules| under the watermark
    * (round-10 verdict item 6 — the last two windowed-counter
    * streams join the soak). */
  def qualityGateStateSeries(spark: SparkSession, batches: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, String, String)]
    soak(batches, graft.streaming.QualityGateStream.ruleCounts(
        mem.toDF().toDF("event_ts", "doc_id", "lang", "text"),
        windowDuration = "1 minute", watermarkDelay = "10 seconds")) { b =>
      mem.addData((0 until 40).map { i =>
        // mix of passers and multi-rule failers: healthy prose, a
        // too-short doc, a repetition-heavy doc, a symbol-soup doc
        val text = (i % 4) match {
          case 0 => s"plain healthy document number $b $i with enough ordinary words to pass the standard gates without trouble at all here"
          case 1 => "too short"
          case 2 => ("spam " * 40).trim
          case _ => "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) @@@ ### $$$ %%% ^^^"
        }
        (soakTs(b, i), s"d${b}x$i", "en", text)
      })
    }
  }

  /** Per-micro-batch state footprint of the streaming PII scrub's
    * window counters (PiiScrubStream.piiCounts): state per in-flight
    * window is ONE aggregate row (the per-category totals are fixed
    * columns, not keyed rows), so PII-bearing documents with fresh
    * ids every batch plateau at the in-flight-window count under the
    * watermark. */
  def piiScrubStateSeries(spark: SparkSession, batches: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, String)]
    soak(batches, graft.streaming.PiiScrubStream.piiCounts(
        mem.toDF().toDF("event_ts", "doc_id", "text"),
        windowDuration = "1 minute", watermarkDelay = "10 seconds")) { b =>
      mem.addData((0 until 40).map { i =>
        val text = (i % 3) match {
          case 0 => s"contact user$b$i at person$b$i@example.com or 555-010$i"
          case 1 => s"server $b.$i.0.1 handled the request from 10.0.$i.$b cleanly"
          case _ => s"no sensitive content in this line at all batch $b row $i"
        }
        (soakTs(b, i), s"p${b}x$i", text)
      })
    }
  }

  /** Total state (rows, bytes) across all stateful operators of the
    * query's last progress. */
  private def stateOf(q: StreamingQuery): (Long, Long) = {
    val p = q.lastProgress
    if (p == null || p.stateOperators.isEmpty) (0L, 0L)
    else (p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
  }

  /** Quarter-point summary + plateau ratio (max of the last quarter
    * over max of the second quarter — ≈1 means bounded state, ≈2
    * means the expiry is not holding) for one state series. */
  private def plateauJson(series: Seq[(Long, Long)], batches: Int): String = {
    val rows = series.map(_._1)
    def at(frac: Double) = rows(math.min(rows.size - 1, (frac * rows.size).toInt))
    // maxOption: for batches < 4 the quarter slices are empty — fall
    // back to the overall max so short runs still emit the artifact
    // instead of losing it to an UnsupportedOperationException
    val q2Max = rows.slice(rows.size / 4, rows.size / 2).maxOption
      .getOrElse(rows.max)
    val q4Max = rows.slice(3 * rows.size / 4, rows.size).maxOption
      .getOrElse(rows.max)
    val ratio = q4Max.toDouble / math.max(1L, q2Max)
    import GraftSession.fmt
    s"""{"batches":$batches,""" +
      s""""rows_q1":${at(0.25)},"rows_q2":${at(0.5)},"rows_q3":${at(0.75)},""" +
      s""""rows_final":${rows.last},"rows_max":${rows.max},""" +
      s""""bytes_max":${series.map(_._2).max},"plateau_ratio":${fmt(ratio)}}"""
  }

  /** One JSON object for the bench artifact. Top-level fields are the
    * at-ingest dedup's series (the r6/r7 artifact contract, shape
    * unchanged); `streams` adds the same plateau evidence for EVERY
    * other stateful stream (round-8 item 4 + round-9 item 6): quota
    * admission (state = |keys| counters), windowed top-k (state =
    * in-flight window sketches), the stream-stream interval join
    * (state = tolerance-horizon buffers), windowed HLL cardinality
    * (state = windows × 64 registers), and windowed HDR quantiles
    * (state = windows × occupied buckets). A stream whose soak throws
    * reports an "error" field instead of silently vanishing, and its
    * name is passed to `failed` (Bench counts it as a failure). */
  def measureState(spark: SparkSession, batches: Int,
                   failed: String => Unit = _ => ()): String = {
    val dedup = plateauJson(stateSeries(spark, batches), batches)
    val others = Seq(
      "quota" -> (() => quotaStateSeries(spark, batches)),
      "topk" -> (() => topkStateSeries(spark, batches)),
      "enrich" -> (() => enrichStateSeries(spark, batches)),
      "cardinality" -> (() => cardinalityStateSeries(spark, batches)),
      "hdr_quantile" -> (() => hdrStateSeries(spark, batches)),
      "quality_gate" -> (() => qualityGateStateSeries(spark, batches)),
      "pii_scrub" -> (() => piiScrubStateSeries(spark, batches))
    ).map { case (name, run) =>
      val body =
        try plateauJson(run(), batches)
        catch { case t: Throwable =>
          System.err.println(s"[stream] $name soak failed: $t")
          failed(name)
          s"""{"error":"${t.getClass.getSimpleName}"}"""
        }
      s""""$name":$body"""
    }.mkString(",")
    val inner = dedup.stripPrefix("{").stripSuffix("}")
    s"""{"metric":"stream_state","unit":"rows",$inner,"streams":{$others}}"""
  }

  def main(args: Array[String]): Unit = {
    val batches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "60").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_STREAM_REPS", "2").toInt
    val spark = GraftSession()
    val line = measure(spark, batches, reps)
    // standalone state-soak runner (SPARK_GRAFT_STATE_BATCHES=N):
    // the same artifact Bench embeds, without the 278-query suite
    val stateBatches =
      sys.env.getOrElse("SPARK_GRAFT_STATE_BATCHES", "0").toInt
    val stateLine =
      if (stateBatches > 0) Some(measureState(spark, stateBatches)) else None
    try spark.stop() catch { case _: Throwable => () }
    println(line)
    stateLine.foreach(println)
    System.out.flush()
  }
}
