package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._

class TaskMetricsProfilerSpec extends SparkSpec {
  import TaskMetricsProfilerSpec.Gate

  test("captures shuffle + input bytes for a profiled window; reset re-arms") {
    val p = TaskMetricsProfiler.install(spark)

    // a groupBy over a parquet scan must report both input and
    // shuffle bytes (an exchange is in the plan by construction)
    p.reset()
    Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1))).count()
    val s1 = p.snapshot(spark)
    assert(s1.tasks > 0)
    assert(s1.inputBytes > 0, "parquet scan bytes missing")
    assert(s1.shuffleWriteBytes > 0, "exchange bytes missing")
    assert(s1.shuffleReadBytes > 0)
    assert(s1.diskSpillBytes === 0L, "tiny aggregate must not spill")

    // reset: a fresh window sees none of the prior run's tasks
    p.reset()
    assert(p.snapshot(spark).tasks === 0L)

    // a scan-only plan (no exchange anywhere — count() itself would
    // add a 1-partition exchange for the final count) reports zero
    // shuffle: the property ScaleSweep's e_shuffle=null guard relies on
    p.reset()
    Tables.documents(spark, sfDir).filter(col("n_chars") > 0)
      .foreach(_ => ())
    val s2 = p.snapshot(spark)
    assert(s2.inputBytes > 0)
    assert(s2.shuffleWriteBytes === 0L,
      s"scan-only plan shuffled: ${s2.json}")

    // determinism: the same plan twice moves the same bytes — the
    // property that makes byte exponents a noise-free scale signal
    p.reset()
    Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1))).count()
    val s3 = p.snapshot(spark)
    assert(s3.shuffleWriteBytes === s1.shuffleWriteBytes)
  }

  test("stage rows sum to the snapshot's totals; reset clears them") {
    val p = TaskMetricsProfiler.install(spark)
    p.reset()
    Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1))).count()
    val s = p.snapshot(spark)
    // the scan + partial aggregate and the final aggregate run in
    // separate stages, joined by the exchange whose bytes they share
    assert(s.stages.size >= 2, s"stage rows missing: ${s.stages}")
    // each row against an independent source: Spark's own status
    // store counts the stage's tasks, and every shuffle byte written
    // in the window is read in it — a row that dropped or
    // double-counted tasks would miss either
    val tracker = spark.sparkContext.statusTracker
    s.stages.foreach { r =>
      assert(tracker.getStageInfo(r.id).map(_.numTasks.toLong) === Some(r.metrics.tasks),
        s"stage ${r.id} task count: ${r.json}")
    }
    assert(s.stages.map(_.metrics.shuffleWriteBytes).sum ===
      s.stages.map(_.metrics.shuffleReadBytes).sum)
    assert(s.tasks === s.stages.map(_.metrics.tasks).sum)
    assert(s.stages.exists(_.metrics.shuffleWriteBytes > 0))
    assert(s.stages.exists(_.metrics.shuffleReadBytes > 0))
    assert(s.stages.forall(r => r.name.nonEmpty && r.site.nonEmpty),
      s"stage name or call site missing: ${s.stages.map(_.json)}")

    p.reset()
    assert(p.snapshot(spark).stages.isEmpty)
  }

  test("a straggler task of an earlier, untagged job that ends inside the window is not counted") {
    val p = TaskMetricsProfiler.install(spark)
    // the earlier job: one task, held open until the window is running
    val straggler = new Thread(() => {
      spark.sparkContext.clearJobTags()
      spark.range(0, 1, 1, 1).foreach { _ =>
        Gate.started.countDown()
        Gate.release.await(60, TimeUnit.SECONDS)
        ()
      }
    })
    straggler.start()
    assert(Gate.started.await(60, TimeUnit.SECONDS), "straggler task never started")
    p.reset()
    spark.range(0, 100, 1, 2).foreach(_ => ())
    Gate.release.countDown()
    straggler.join(60000)
    val s = p.snapshot(spark)
    assert(s.tasks === 2L, s"window counted a task it did not submit: ${s.stages.map(_.json)}")
    assert(s.stages.size === 1)
  }
}

object TaskMetricsProfilerSpec {
  /** Latches a task can reach: executors run in this JVM (local mode). */
  object Gate {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
  }
}
