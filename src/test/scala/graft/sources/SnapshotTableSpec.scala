package graft.sources

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.telecom.Pipeline
import org.apache.spark.sql.functions._

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("snap").toString + "/t"

  test("commit/read/time-travel by version and timestamp") {
    val path = tmp()
    val v1 = SnapshotTable.commit(spark, Seq((1, "a")).toDF("id", "x"), path, nowMs = 1000)
    val v2 = SnapshotTable.commit(spark, Seq((1, "a"), (2, "b")).toDF("id", "x"), path, nowMs = 2000)
    assert((v1, v2) === (1L, 2L))
    assert(SnapshotTable.read(spark, path).count() === 2)
    assert(SnapshotTable.readVersion(spark, path, 1).count() === 1)
    assert(SnapshotTable.readAsOf(spark, path, 1500).count() === 1)
    assert(SnapshotTable.readAsOf(spark, path, 2000).count() === 2)
    intercept[NoSuchElementException](SnapshotTable.readAsOf(spark, path, 500))
  }

  test("deleteWhere: rows vanish from the new version, history keeps them until expire") {
    val path = tmp()
    SnapshotTable.commit(spark,
      Seq((1, "keep"), (2, "erase"), (3, "keep"), (4, "erase")).toDF("id", "x"),
      path, nowMs = 1000)
    val (v2, deleted) = SnapshotTable.deleteWhere(spark, path, col("x") === "erase", nowMs = 2000)
    assert(deleted === 2L && v2 === 2L)
    assert(SnapshotTable.read(spark, path).select("id").as[Int].collect().sorted === Array(1, 3))
    // history still serves the deleted rows (time travel) ...
    assert(SnapshotTable.readVersion(spark, path, 1).count() === 4)
    // ... until compliance expiry physically reaps older versions
    SnapshotTable.expire(path, olderThanMs = 3000, keepLast = 1)
    intercept[Exception](SnapshotTable.readVersion(spark, path, 1).count())
    assert(SnapshotTable.read(spark, path).count() === 2)
  }

  test("deleteWhere: null predicate rows are kept (SQL DELETE semantics)") {
    val path = tmp()
    SnapshotTable.commit(spark,
      Seq((1, Some("a")), (2, None), (3, Some("b"))).toDF("id", "x"), path, nowMs = 1000)
    val (_, deleted) = SnapshotTable.deleteWhere(spark, path, col("x") === "a", nowMs = 2000)
    assert(deleted === 1L)
    assert(SnapshotTable.read(spark, path).select("id").as[Int].collect().sorted === Array(2, 3))
  }

  test("rollback points a new version at old data without rewriting") {
    val path = tmp()
    SnapshotTable.commit(spark, Seq(1).toDF("id"), path, nowMs = 1000)
    SnapshotTable.commit(spark, Seq(1, 2, 3).toDF("id"), path, nowMs = 2000)
    val v3 = SnapshotTable.rollback(spark, path, 1, nowMs = 3000)
    assert(v3 === 3L)
    assert(SnapshotTable.read(spark, path).count() === 1)
    // bad rollbacks are themselves time-travelable mistakes
    assert(SnapshotTable.readVersion(spark, path, 2).count() === 3)
    // rollback reuses v1's directory — only two data dirs on disk
    assert(SnapshotTable.snapshots(path).map(_.dir).distinct.size === 2)
  }

  test("expire keeps the protected tail and shared data dirs, reaps the rest") {
    val path = tmp()
    SnapshotTable.commit(spark, Seq(1).toDF("id"), path, nowMs = 1000)
    SnapshotTable.commit(spark, Seq(1, 2).toDF("id"), path, nowMs = 2000)
    SnapshotTable.rollback(spark, path, 1, nowMs = 3000) // v3 -> v1's dir
    // orphan dir from a simulated crash (data written, manifest never swapped)
    Files.createDirectories(Paths.get(path, "v00099"))
    val expired = SnapshotTable.expire(path, olderThanMs = 2500, keepLast = 1)
    assert(expired === Seq(1L, 2L))
    // v1's DIRECTORY survives: current snapshot v3 references it
    assert(SnapshotTable.read(spark, path).count() === 1)
    assert(!Files.exists(Paths.get(path, "v00002"))) // v2's data reaped
    assert(!Files.exists(Paths.get(path, "v00099"))) // orphan reaped
    intercept[NoSuchElementException](SnapshotTable.readVersion(spark, path, 2))
  }

  test("zone map: range-clustered files outside the predicate range are skipped, result is lossless") {
    val path = tmp()
    // 8 range-clustered files over v=0..7999 → each file spans ~1000
    val df = spark.range(0, 8000)
      .select(col("id"), (col("id") % 97).as("tag"), col("id").cast("double").as("v"))
      .repartitionByRange(8, col("v"))
    SnapshotTable.commitWithStats(spark, df, path, Seq("v"), nowMs = 1000)
    val (kept, pruned) = SnapshotTable.pruneFiles(path, "v", 2100.0, 2900.0)
    assert(pruned.nonEmpty, "a narrow range over range-clustered files must skip files")
    // an ~800-wide range over ~1000-wide file spans touches at most 3 files
    assert(kept.size <= 3, s"expected <=3 of 8 files kept, got ${kept.size}")
    val got = SnapshotTable.readPruned(spark, path, "v", 2100.0, 2900.0)
      .select("id").as[Long].collect().sorted
    assert(got === (2100L to 2900L).toArray, "pruning must lose no matching row")
    // the zone map sidecar must be invisible to a plain snapshot read
    assert(SnapshotTable.read(spark, path).count() === 8000)
  }

  test("zone map over Morton-clustered files prunes on BOTH dimensions") {
    import graft.operators.Zorder
    val path = tmp()
    // 64x64 uniform grid; z-order clustering gives each of 16 files a
    // compact 2-D tile, so BOTH x and y get tight per-file ranges —
    // a 1-D range clustering would stripe on x and never prune on y
    val grid = spark.range(0, 4096)
      .select((col("id") % 64).cast("double").as("x"),
        floor(col("id") / 64).cast("double").as("y"))
    val clustered = Zorder.cluster(grid, Seq("x", "y"), numPartitions = 16)
    SnapshotTable.commitWithStats(spark, clustered, path, Seq("x", "y"), nowMs = 1000)
    val (keptX, prunedX) = SnapshotTable.pruneFiles(path, "x", 10.0, 20.0)
    val (keptY, prunedY) = SnapshotTable.pruneFiles(path, "y", 10.0, 20.0)
    assert(prunedX.nonEmpty, "x-range must skip files under z-order clustering")
    assert(prunedY.nonEmpty, "y-range must ALSO skip files — the z-order point")
    info(s"16 files: x-range keeps ${keptX.size}, y-range keeps ${keptY.size}")
    // pruned reads stay lossless on both dims
    assert(SnapshotTable.readPruned(spark, path, "y", 10.0, 20.0).count() === 11 * 64)
    assert(SnapshotTable.readPruned(spark, path, "x", 10.0, 20.0).count() === 11 * 64)
  }

  test("zone map: files without stats (all-null column) are never pruned; empty overlap keeps schema") {
    val path = tmp()
    val df = spark.range(0, 100)
      .select(col("id"),
        when(col("id") < 50, col("id").cast("double")).as("v"))
      .repartitionByRange(4, col("v"))
    SnapshotTable.commitWithStats(spark, df, path, Seq("v"), nowMs = 1000)
    // the all-null file carries no zone entry → must be in every kept set
    val (kept, _) = SnapshotTable.pruneFiles(path, "v", 1e9, 2e9)
    val zm = SnapshotTable.zonemap(path, SnapshotTable.snapshots(path).last)
    val statless = kept.filterNot(f => zm.exists(_.file == f))
    assert(statless.nonEmpty, "null-only files have no stats and must survive pruning")
    // no rows can match, but the frame must still have the right schema
    val empty = SnapshotTable.readPruned(spark, path, "v", 1e9, 2e9)
    assert(empty.columns.toSeq === Seq("id", "v") && empty.count() === 0)
    // rollback to the same version keeps serving pruned reads (stats
    // live inside the data dir, so they travel with it)
    SnapshotTable.rollback(spark, path, 1, nowMs = 2000)
    assert(SnapshotTable.readPruned(spark, path, "v", 10.0, 12.0).count() === 3)
  }

  test("mergeSnapshot: keep-latest merge with time-travelable history, idempotent replay") {
    val path = tmp()
    val day1 = Seq(("k1", 1L, "a"), ("k2", 1L, "b")).toDF("id", "v", "p")
    val day2 = Seq(("k1", 2L, "a2"), ("k3", 1L, "c")).toDF("id", "v", "p")
    Pipeline.mergeSnapshot(spark, day1, path, Seq("id"), "v", nowMs = 1000)
    Pipeline.mergeSnapshot(spark, day2, path, Seq("id"), "v", nowMs = 2000)
    Pipeline.mergeSnapshot(spark, day2, path, Seq("id"), "v", nowMs = 3000) // replay
    // the merge records the schema of the snapshot it committed
    val dir = SnapshotTable.dataDir(path, SnapshotTable.snapshots(path).last)
    assert(graft.Tables.memoSchema(spark, dir) === Some(spark.read.parquet(dir).schema))
    val cur = SnapshotTable.read(spark, path).as[(String, Long, String)].collect().sortBy(_._1)
    assert(cur.toSeq === Seq(("k1", 2L, "a2"), ("k2", 1L, "b"), ("k3", 1L, "c")))
    // pre-merge state is still queryable
    val before = SnapshotTable.readAsOf(spark, path, 1000)
      .as[(String, Long, String)].collect().sortBy(_._1)
    assert(before.toSeq === Seq(("k1", 1L, "a"), ("k2", 1L, "b")))
  }

  test("crash before the manifest swap: table intact, orphan reaped, stats never missing") {
    val path = tmp()
    val df1 = Seq((1, 10.0), (2, 20.0)).toDF("id", "v")
    SnapshotTable.commitWithStats(spark, df1, path, Seq("v"), nowMs = 1000)
    // inject a crash AFTER data+zonemap land, BEFORE the manifest swap
    SnapshotTable.failpointBeforeManifest =
      () => throw new RuntimeException("injected crash")
    try intercept[RuntimeException](SnapshotTable.commitWithStats(
      spark, Seq((3, 30.0)).toDF("id", "v"), path, Seq("v"), nowMs = 2000))
    finally SnapshotTable.failpointBeforeManifest = () => ()
    // the table is INTACT: v1 still current, the orphan dir invisible
    val snaps = SnapshotTable.snapshots(path)
    assert(snaps.map(_.version) === Seq(1L), s"manifest changed: $snaps")
    assert(SnapshotTable.read(spark, path).count() === 2)
    assert(Files.exists(Paths.get(s"$path/v00002")), "precondition: orphan dir")
    // expire reaps the unreferenced orphan
    SnapshotTable.expire(path, olderThanMs = 0L)
    assert(!Files.exists(Paths.get(s"$path/v00002")), "orphan not reaped")
    // a retry commits cleanly AND its snapshot carries stats — the
    // reordering's invariant: no manifest-visible snapshot without a
    // zone map (the old shape could publish one, silently unprunable)
    val v = SnapshotTable.commitWithStats(
      spark, Seq((3, 30.0)).toDF("id", "v"), path, Seq("v"), nowMs = 3000)
    val snap = SnapshotTable.snapshots(path).find(_.version == v).get
    assert(SnapshotTable.zonemap(path, snap).nonEmpty,
      "manifest-visible snapshot without zone-map stats")
    assert(SnapshotTable.read(spark, path).count() === 1)
  }
}
