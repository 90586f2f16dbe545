package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamEnrichSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val callRows = Seq(
    ("c1", "T1", ts("2024-01-01 10:00:00")), // probes at 09:55, 09:52 in window
    ("c2", "T1", ts("2024-01-01 10:30:00")), // no probe within 10 min
    ("c3", "T2", ts("2024-01-01 10:05:00"))) // T2 probe at 10:00 in window
  private val probeRows = Seq(
    ("T1", ts("2024-01-01 09:52:00"), 40.0),
    ("T1", ts("2024-01-01 09:55:00"), 55.0),
    ("T1", ts("2024-01-01 10:01:00"), 60.0), // after c1, before c2-10min
    ("T2", ts("2024-01-01 10:00:00"), 80.0))

  test("stream-static broadcast enrichment: dims join map-side, unknown towers survive") {
    implicit val sqlCtx = spark.sqlContext
    val towers = Seq(("T1", "NYC"), ("T2", "SFO")).toDF("tower_id", "city")
    val mem = MemoryStream[(String, String)]
    val enriched = StreamEnrich.callsWithTowerDim(
      mem.toDF().toDF("event_id", "tower_id"), towers)
    val q = enriched.writeStream.format("memory")
      .queryName("dim_enriched").outputMode("append").start()
    try {
      mem.addData(("c1", "T1"), ("c2", "T9"), ("c3", "T2"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dim_enriched")
      .select("event_id", "city").as[(String, Option[String])].collect().toSet
    assert(rows === Set(("c1", Some("NYC")), ("c2", None), ("c3", Some("SFO"))))
  }

  test("stream-stream interval join: bounded-state enrichment equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val cMem = MemoryStream[(String, String, Timestamp)]
    val pMem = MemoryStream[(String, Timestamp, Double)]
    val joined = StreamEnrich.callsWithTowerLoad(
      cMem.toDF().toDF("event_id", "tower_id", "call_ts"),
      pMem.toDF().toDF("tower_id", "probe_ts", "load_pct"))
    val q = joined.writeStream.format("memory")
      .queryName("enriched").outputMode("append").start()
    try {
      cMem.addData(callRows: _*)
      pMem.addData(probeRows: _*)
      q.processAllAvailable()
      // advance both watermarks so all interval pairs finalize
      cMem.addData(("cx", "T9", ts("2024-01-01 12:00:00")))
      pMem.addData(("T9", ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("enriched")
      .select("event_id", "probe_ts", "load_pct")
      .as[(String, Timestamp, Double)].collect().toSet
    val batch = StreamEnrich.callsWithTowerLoad(
        callRows.toDF("event_id", "tower_id", "call_ts"),
        probeRows.toDF("tower_id", "probe_ts", "load_pct"))
      .select("event_id", "probe_ts", "load_pct")
      .as[(String, Timestamp, Double)].collect().toSet
    // c1 picks up both T1 probes in [09:50, 10:00]; c2 matches none;
    // c3 picks up the T2 probe
    val expected = Set(
      ("c1", ts("2024-01-01 09:52:00"), 40.0),
      ("c1", ts("2024-01-01 09:55:00"), 55.0),
      ("c3", ts("2024-01-01 10:00:00"), 80.0))
    assert(batch.filter(_._1 != "cx") == expected)
    assert(streamed.filter(_._1 != "cx") == expected)
  }

  test("binned batch face ≡ interval join (boundary probes, bucket edges, randomized)") {
    // hand-picked boundary cases: probe exactly at call_ts, exactly at
    // call_ts − 10 min (inclusive), 1 s outside, and bucket-edge
    // timestamps (call exactly on a 10-min boundary)
    val calls = callRows ++ Seq(
      ("c4", "T1", ts("2024-01-01 10:10:00")), // on a bucket boundary
      ("c5", "T2", ts("2024-01-01 10:10:00")))
    val probes = probeRows ++ Seq(
      ("T1", ts("2024-01-01 10:00:00"), 41.0), // == c4 − 10 min: inclusive
      ("T1", ts("2024-01-01 09:59:59"), 42.0), // 1 s outside c4's window
      ("T2", ts("2024-01-01 10:10:00"), 43.0)) // == c5 ts: inclusive
    def run(f: => org.apache.spark.sql.DataFrame): Set[(String, Timestamp, Double)] =
      f.select("event_id", "probe_ts", "load_pct")
        .as[(String, Timestamp, Double)].collect().toSet
    val interval = run(StreamEnrich.callsWithTowerLoad(
      calls.toDF("event_id", "tower_id", "call_ts"),
      probes.toDF("tower_id", "probe_ts", "load_pct")))
    val binned = run(StreamEnrich.callsWithTowerLoadBinned(
      calls.toDF("event_id", "tower_id", "call_ts"),
      probes.toDF("tower_id", "probe_ts", "load_pct"), toleranceSecs = 600L))
    assert(binned === interval)
    // randomized sweep: 200 calls × 400 probes over 3 towers and 2 h
    val rnd = new scala.util.Random(42)
    val rc = (1 to 200).map(i => (s"r$i", s"T${rnd.nextInt(3)}",
      new Timestamp(ts("2024-01-01 08:00:00").getTime + rnd.nextInt(7200) * 1000L)))
    val rp = (1 to 400).map(_ => (s"T${rnd.nextInt(3)}",
      new Timestamp(ts("2024-01-01 08:00:00").getTime + rnd.nextInt(7200) * 1000L),
      rnd.nextInt(100).toDouble))
    val ri = run(StreamEnrich.callsWithTowerLoad(
      rc.toDF("event_id", "tower_id", "call_ts"),
      rp.toDF("tower_id", "probe_ts", "load_pct")))
    val rb = run(StreamEnrich.callsWithTowerLoadBinned(
      rc.toDF("event_id", "tower_id", "call_ts"),
      rp.toDF("tower_id", "probe_ts", "load_pct"), toleranceSecs = 600L))
    assert(rb === ri)
    assert(ri.nonEmpty)
  }

  test("binned batch face rejects a non-positive tolerance at plan time") {
    val calls = callRows.toDF("event_id", "tower_id", "call_ts")
    val probes = probeRows.toDF("tower_id", "probe_ts", "load_pct")
    Seq(0L, -600L).foreach { tol =>
      val e = intercept[IllegalArgumentException](
        StreamEnrich.callsWithTowerLoadBinned(calls, probes, toleranceSecs = tol))
      assert(e.getMessage.contains("toleranceSecs"))
    }
  }

  test("stream-stream join state EVICTS: rows plateau as watermarks advance") {
    implicit val sqlCtx = spark.sqlContext
    val cMem = MemoryStream[(String, String, Timestamp)]
    val pMem = MemoryStream[(String, Timestamp, Double)]
    val joined = StreamEnrich.callsWithTowerLoad(
      cMem.toDF().toDF("event_id", "tower_id", "call_ts"),
      pMem.toDF().toDF("tower_id", "probe_ts", "load_pct"),
      tolerance = "10 minutes", lateness = "1 second")
    val q = joined.writeStream.format("memory")
      .queryName("evict").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 08:00:00").getTime
    def at(min: Long) = new Timestamp(t0 + min * 60000)
    try {
      // 30 micro-batches marching event time forward 5 min each: with
      // the 10-min join range + 1 s lateness, both state stores hold
      // only the trailing window, not the whole history
      val totals = (1 to 30).map { b =>
        cMem.addData((s"c$b", "T1", at(b * 5)))
        pMem.addData(("T1", at(b * 5), b.toDouble))
        q.processAllAvailable()
        q.lastProgress.stateOperators.head.numRowsTotal
      }
      // plateau: the last 10 batches never exceed the max of the
      // first 20 — state is bounded by the range condition, not by
      // stream length (an unbounded store grows monotonically)
      val ramp = totals.take(20).max
      assert(totals.takeRight(10).forall(_ <= ramp),
        s"state still growing after 30 batches: $totals")
      // and it is SMALL: bounded by tolerance x arrival rate (≤ ~2-3
      // events per side in range), never ~60 (the full history)
      assert(totals.last < 20, s"state rows at end: ${totals.last}")
    } finally q.stop()
  }
}
