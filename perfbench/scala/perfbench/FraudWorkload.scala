package perfbench

import java.sql.Timestamp
import scala.util.Try
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.FraudDetection
import graft.streaming.FraudDetection.CallPing

/** Stream half of the `telecom` workload: an open-loop feed into
  * `FraudDetection.detectStream` on a session configured like
  * graft.StreamBench.
  *
  * Warm-up feeds the first `WarmupBatches` × `WarmupBatchSize` events
  * back to back, one micro-batch each, until the stateful path is
  * compiled. Then one generator thread (this one) adds the remaining
  * events to the MemoryStream on a fixed schedule of `Rate` events per
  * second for `seconds`, whatever the stream is doing, so a stall
  * shows up as a growing backlog and as latency of the events behind
  * it. Each event's latency runs from its scheduled send time to the
  * end of the micro-batch that processed it. `Rate` sits well below
  * what the stream sustains on a 4-core host (~150 events/s at
  * ~0.5 s micro-batches once warm).
  *
  * Events are in time order over `Customers` customers (keys far
  * outnumber state partitions), with a small share of planted velocity
  * bursts and impossible-travel pairs. Event time runs `TimeScale`
  * times faster than the wall clock so the 30-minute velocity window
  * fills within a run.
  */
object FraudWorkload {
  val Rate = 40
  val Customers = 2000
  val WarmupBatches = 3
  val WarmupBatchSize = 100
  val BurstCustomers = 2
  val BurstPeriodMs = 500.0
  val TravelCustomers = 10
  val TravelPeriodMs = 4000.0
  val TimeScale = 120L
  val TickMs = 10L
  val EventTimeBase = 1704067200000L // 2024-01-01T00:00:00Z

  /** Send offsets (ms on the schedule) and events in send order; a
    * function of the seed only. The schedule covers the warm-up events
    * at `Rate` followed by `seconds` of open-loop feed. */
  def schedule(seed: Long, seconds: Int): IndexedSeq[(Double, CallPing)] = {
    val rnd = new scala.util.Random(seed)
    val totalMs = (WarmupBatches * WarmupBatchSize * 1000.0) / Rate + seconds * 1000.0
    val towers = graft.telecom.Generators.towers().toIndexedSeq
    def periodic(n: Int, periodMs: Double)(place: (Int, Int) => (String, Double, Double, String)) =
      (0 until n).flatMap { c =>
        val phase = rnd.nextDouble() * periodMs
        Iterator.iterate(phase)(_ + periodMs).takeWhile(_ < totalMs).zipWithIndex
          .map { case (ms, i) => (ms, place(c, i)) }
      }
    val bursts = periodic(BurstCustomers, BurstPeriodMs) { (c, _) =>
      val t = towers(c % towers.size)
      (s"BURST$c", t.latitude, t.longitude, t.tower_id)
    }
    val travel = periodic(TravelCustomers, TravelPeriodMs) { (c, i) =>
      if (i % 2 == 0) (s"TRAVEL$c", 40.7, -74.0, "TWRNYC")
      else (s"TRAVEL$c", 35.7, 139.7, "TWRTYO")
    }
    val normal = (0 until (Rate * totalMs / 1000).toInt - bursts.size - travel.size).map { _ =>
      val c = rnd.nextInt(Customers)
      val t = towers(c % towers.size)
      (rnd.nextDouble() * totalMs, (f"CUST$c%05d",
        t.latitude + (rnd.nextDouble() - 0.5) * 0.02,
        t.longitude + (rnd.nextDouble() - 0.5) * 0.02, t.tower_id))
    }
    (bursts ++ travel ++ normal).sortBy(_._1).zipWithIndex.map {
      case ((ms, (cust, lat, lon, tower)), i) =>
        ms -> CallPing(cust, f"E$seed%d-$i%06d",
          new Timestamp(EventTimeBase + (ms * TimeScale).toLong), lat, lon, tower)
    }
  }

  private def start(spark: SparkSession): (MemoryStream[CallPing], StreamingQuery) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[CallPing]
    val q = FraudDetection.detectStream(mem.toDS())
      .writeStream.format("memory").queryName("alerts").outputMode("append")
      .option("checkpointLocation", "checkpoints/alerts")
      .start()
    (mem, q)
  }

  def run(r: Run): Unit = {
    val events = schedule(r.args.seed, r.args.seconds)
    val n = events.size
    val warmN = WarmupBatches * WarmupBatchSize
    val addMs = new Array[Double](n)
    val schedMs = new Array[Double](n)
    val blockOf = new Array[Int](n)
    var blocks = 0
    def add(mem: MemoryStream[CallPing], from: Int, until: Int): Unit = {
      mem.addData(events.slice(from, until).map(_._2))
      val added = Clock.nowMs
      (from until until).foreach { e => addMs(e) = added; blockOf(e) = blocks }
      blocks += 1
    }

    val w0 = Clock.nowMs
    r.newSession("fraud_stream")
    val spark = r.spark
    val sid = r.spans.nextId()
    Tags.set(spark, "window", "stream", sid)
    val (mem, q) = start(spark)
    val fed = Try {
      (0 until WarmupBatches).foreach { b =>
        add(mem, b * WarmupBatchSize, (b + 1) * WarmupBatchSize)
        q.processAllAvailable()
      }
      (0 until warmN).foreach(e => schedMs(e) = addMs(e))
      val warmEnd = Clock.nowMs
      r.spans.add(Span(r.spans.nextId(), r.rootSpan, "warmup", "stream warm-up", w0, warmEnd))
      r.record("warmup_s") = (warmEnd - w0) / 1000
      // open loop: event e is due at feedStart + (its offset - the
      // first open-loop offset)
      val feedStart = warmEnd + 50
      val offset0 = events(warmN)._1
      (warmN until n).foreach(e => schedMs(e) = feedStart + events(e)._1 - offset0)
      r.record("feed_start_ms") = feedStart
      var i = warmN
      while (i < n) {
        val now = Clock.nowMs
        var j = i
        while (j < n && schedMs(j) <= now) j += 1
        if (j > i) { add(mem, i, j); i = j }
        else Thread.sleep(math.max(1L, math.min(TickMs, (schedMs(i) - now).toLong)))
      }
      r.timed(feedStart)
      q.processAllAvailable()
    }
    val deadline = System.nanoTime() + 10000000000L
    while (!r.streamRec.all.exists(_.endOffset >= blocks - 1) && System.nanoTime() < deadline)
      Thread.sleep(5)
    val streamError = q.exception.map(_.toString).orElse(fed.failed.toOption.map(_.toString))
    q.stop()
    r.spans.add(Span(sid, r.rootSpan, "stream", "detectStream", w0, Clock.nowMs))
    val batches = r.streamRec.all
    batches.foreach { b =>
      val bid = r.spans.nextId()
      r.spans.add(Span(bid, sid, "batch", s"batch ${b.batchId}", b.startMs, b.endMs))
      // progress reports phase durations, not positions: lay them end to end
      var at = b.startMs
      b.phasesMs.filter { case (k, _) => k != "triggerExecution" }.toSeq.sortBy(_._1).foreach {
        case (k, ms) =>
          r.spans.add(Span(r.spans.nextId(), bid, "phase", k, at, at + ms))
          at += ms
      }
    }
    r.record("stream") = Map(
      "rate" -> Rate, "customers" -> Customers, "events" -> n, "warmup_events" -> warmN,
      "sched_ms" -> schedMs, "add_ms" -> addMs, "block" -> blockOf,
      "batches" -> batches, "error" -> streamError)
    r.check("stream ran without error", streamError.isEmpty, streamError)
    val dropped = batches.map(_.droppedByWatermark).sum
    r.check("no event dropped by the watermark", dropped == 0, dropped)
    checkAlerts(r, events.map(_._2))
  }

  /** The stream's alerts must equal `detectBatch` over the same events. */
  private def checkAlerts(r: Run, events: Seq[CallPing]): Unit = {
    val spark = r.spark
    import spark.implicits._
    Tags.set(spark, "check", "alerts", r.rootSpan)
    val cols = Seq("alert_id", "alert_type", "severity", "customer_id", "event_id")
    def keys(rows: Array[Row]): Set[String] = rows.map(_.mkString("|")).toSet
    val streamed = keys(spark.table("alerts").select(cols.head, cols.tail: _*).collect())
    val batch = keys(FraudDetection.detectBatch(events.toDF()).select(cols.head, cols.tail: _*).collect())
    val missing = (batch -- streamed).toSeq.sorted.take(5)
    val extra = (streamed -- batch).toSeq.sorted.take(5)
    r.check("stream alerts equal detectBatch", missing.isEmpty && extra.isEmpty && batch.nonEmpty,
      Map("alerts" -> batch.size, "streamed" -> streamed.size, "missing" -> missing, "extra" -> extra))
  }
}
