package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index: build ONCE (codebook + cid-PARTITIONED
  * inverted lists on disk), query MANY — the missing half of
  * `Similarity.ivfTopK`, which re-assigns the corpus on every call.
  * At 100 TB the assignment scan is the dominant cost and amortizing
  * it across query batches is what makes IVF an INDEX rather than a
  * query plan: build is one scan-speed projection written
  * `partitionBy(cid)`, and every query batch then reads ONLY its
  * probed lists — the probe set (≤ |queries|·nprobe small ids) is
  * collected and pushed as a static partition filter, so the scan's
  * PartitionFilters prune at file-listing time (nprobe/numCentroids
  * of the corpus read, verified by IvfIndexSpec against the plan).
  * Everything derived (codebook draw, assignment argmax, probe
  * ranking, cosine) reuses the exact Similarity kernels, so a query
  * against the index is bit-identical to ivfTopK on the same
  * parameters — q216 certifies that with q75's own DuckDB oracle.
  *
  * Layout: `$path/centroids` (cid, cvec — numCentroids rows) and
  * `$path/lists` hive-partitioned by cid (vec_id, query_vec, _n2c
  * per row), plus `$path/_GRAFT_BUILD_OK` — a completion marker
  * written LAST carrying the corpus fingerprint (row count +
  * numCentroids). Reuse of a persisted index must gate on
  * `isValid`: an aborted build (dirs created, marker absent) or a
  * regenerated corpus at the same path (count mismatch) triggers a
  * rebuild instead of silently serving stale or partial lists.
  * Incremental append of new vectors is `assignOnly` written with
  * SaveMode.Append — the codebook is frozen at build time, the
  * standard IVF contract; `skewRatio`/`needsRetrain` monitor
  * list-occupancy skew under appends and `rebuild` retrains the
  * codebook from the persisted lists via a temp-dir + rename swap.
  */
object IvfIndex {

  private val MarkerFile = "_GRAFT_BUILD_OK"

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  /** One corpus scan: draw the codebook, assign every row to its
    * inverted list, persist both, then stamp the completion marker
    * (rows + numCentroids) — written last so a crash mid-build never
    * leaves a marker over partial lists. */
  def build(corpus: DataFrame, numCentroids: Int, path: String): Unit = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val hfs = fs(sp, path)
    val marker = new org.apache.hadoop.fs.Path(s"$path/$MarkerFile")
    hfs.delete(marker, false)
    val cents = Similarity.ivfCentroids(corpus, numCentroids)
    cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cvec")
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    // cluster by cid before the partitioned write (r12, guide §6):
    // otherwise every input partition writes a file into every
    // centroid dir (p×centroids small files once the corpus scan is
    // fanned out); one exchange keyed on the partition column keeps
    // the lists at ~one file per centroid at any input parallelism
    assignOnly(corpus, cents)
      .repartition(col("cid"))
      .write.partitionBy("cid").mode(SaveMode.Overwrite)
      .parquet(s"$path/lists")
    val rows = sp.read.parquet(s"$path/lists").count()
    val out = hfs.create(marker, true)
    out.write(s"rows=$rows\ncentroids=$numCentroids\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** True iff a completed build exists at `path` whose fingerprint
    * matches the expected corpus row count and codebook size. */
  def isValid(spark: SparkSession, path: String,
              expectedRows: Long, numCentroids: Int): Boolean = {
    reconcile(spark, path) // self-heal a rebuild swap that crashed mid-rename
    val hfs = fs(spark, path)
    val marker = new org.apache.hadoop.fs.Path(s"$path/$MarkerFile")
    if (!hfs.exists(marker)) return false
    val in = hfs.open(marker)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val kv = txt.linesIterator.flatMap { l =>
      l.split("=", 2) match { case Array(k, v) => Some(k -> v.trim); case _ => None }
    }.toMap
    kv.get("rows").contains(expectedRows.toString) &&
      kv.get("centroids").contains(numCentroids.toString)
  }

  /** Per-inverted-list occupancy — the skew monitor's raw input. */
  def listStats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/lists")
      .groupBy(col("cid").cast("long").as("cid"))
      .agg(count(lit(1)).as("list_rows"))

  /** max/mean list occupancy over the codebook size (empty lists
    * count as 0 rows, so a degenerate codebook where appends pile
    * into one list reads as high skew, not as a small mean). */
  def skewRatio(spark: SparkSession, path: String): Double = {
    val numLists = centroids(spark, path).length
    val st = listStats(spark, path)
      .agg(max(col("list_rows")).as("mx"), sum(col("list_rows")).as("tot"))
      .head()
    val mean = st.getLong(1).toDouble / numLists
    if (mean == 0.0) 1.0 else st.getLong(0).toDouble / mean
  }

  /** The retrain trigger the frozen-codebook contract calls for:
    * appends that concentrate into few lists push max/mean occupancy
    * up, which degrades recall (a probed list holds an ever-smaller
    * fraction of true neighbors) AND latency (the hot list dominates
    * every probe). */
  def needsRetrain(spark: SparkSession, path: String,
                   maxSkew: Double = 4.0): Boolean =
    skewRatio(spark, path) > maxSkew

  /** Test failpoint: invoked between the two renames of [[rebuild]]'s
    * swap — the window where the index exists only at `$path.rebuild`
    * — so IvfMaintenanceSpec can prove [[reconcile]] repairs it. */
  private[operators] var failpointMidSwap: () => Unit = () => ()

  /** Retrain the codebook from the persisted lists themselves: build
    * into `$path.rebuild`, then swap by TWO renames (old index aside,
    * new index in) so the data is never deleted before its
    * replacement is in place. The previous shape (delete `path`, then
    * rename) had a window where a crash left NO index at `path` and
    * the only copy at the tmp dir that nothing replayed — the index
    * (which here IS the data: rebuild's input is its own lists) was
    * recoverable only by hand. Now every crash point is repaired by
    * [[reconcile]]: mid-tmp-build leaves `path` intact (tmp has no
    * marker and is overwritten next time); between the renames, tmp
    * carries a valid marker and reconcile promotes it; after the
    * second rename, `$path.old` is residue reaped here or by
    * reconcile. The marker travels with the rename, keeping the
    * isValid gate coherent. */
  def rebuild(spark: SparkSession, path: String, numCentroids: Int): Unit = {
    val vecs = spark.read.parquet(s"$path/lists")
      .select(col("vec_id"), col("query_vec"))
    val tmp = s"$path.rebuild"
    val old = s"$path.old"
    val hfs = fs(spark, path)
    hfs.delete(new org.apache.hadoop.fs.Path(old), true) // stale residue
    build(vecs, numCentroids, tmp) // lazily scans path/lists: path must survive until here
    require(hfs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(old)), s"rename $path -> $old failed")
    failpointMidSwap()
    require(hfs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(path)), s"rename $tmp -> $path failed")
    hfs.delete(new org.apache.hadoop.fs.Path(old), true)
    // drop any cached file listings over the swapped directory
    spark.catalog.refreshByPath(path)
  }

  private def hasMarker(hfs: org.apache.hadoop.fs.FileSystem, dir: String): Boolean =
    hfs.exists(new org.apache.hadoop.fs.Path(s"$dir/$MarkerFile"))

  /** Repair a rebuild swap that crashed between its renames: if no
    * completed index sits at `path` but one sits at `$path.rebuild`
    * (crash after the old index was renamed aside) promote it; else
    * if one sits at `$path.old` restore that. Idempotent, pure
    * existence checks on the happy path; called by [[isValid]] so
    * every ensure-style gate self-heals before deciding to rebuild
    * from (possibly missing) source data. */
  def reconcile(spark: SparkSession, path: String): Unit = {
    val hfs = fs(spark, path)
    if (hasMarker(hfs, path)) return
    val promote = Seq(s"$path.rebuild", s"$path.old").find(hasMarker(hfs, _))
    promote.foreach { src =>
      hfs.delete(new org.apache.hadoop.fs.Path(path), true) // partial residue
      require(hfs.rename(new org.apache.hadoop.fs.Path(src),
        new org.apache.hadoop.fs.Path(path)), s"reconcile rename $src -> $path failed")
      // Reap the sibling the swap left behind: promoting `.rebuild`
      // with a marker-bearing `.old` still on disk would otherwise
      // leave a STALE valid index that a later marker loss silently
      // restores (round-10 advice). Deleting a missing path is a
      // no-op, so reap both names unconditionally. Single-writer
      // assumption (same as rebuild's): maintenance on one index path
      // is serialized by the caller; isValid's self-heal mutates only
      // under that regime.
      hfs.delete(new org.apache.hadoop.fs.Path(s"$path.old"), true)
      hfs.delete(new org.apache.hadoop.fs.Path(s"$path.rebuild"), true)
      spark.catalog.refreshByPath(path)
    }
  }

  /** The scan-speed assignment projection (shared by build, by
    * incremental appends and by Similarity's inline IVF searches):
    * each row with its cid from the native graft_ivf_top kernel,
    * which stays one loop per row at the ⌈√n⌉ codebook sizes a real
    * index uses, and its norm² `_n2c`. */
  def assignOnly(vectors: DataFrame,
                 cents: Array[(Long, Array[Long])]): DataFrame =
    Similarity.withNorm(
      vectors.withColumn("cid", Similarity.ivfAssign(col("query_vec"), cents)),
      "query_vec", "_n2c")

  def centroids(spark: SparkSession, path: String): Array[(Long, Array[Long])] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("cid")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))

  /** Probed top-k against the persisted lists. The probed cid set is
    * collected (bounded: ≤ |queries|·nprobe longs) and pushed as an
    * isin partition filter BEFORE the join, so pruning is static and
    * visible in the plan — no reliance on runtime DPP. */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
           k: Int, nprobe: Int): DataFrame = {
    val probes = Similarity.ivfProbes(queries, centroids(spark, path), nprobe)
    val probedCids = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = spark.read.parquet(s"$path/lists")
      .where(col("cid").isin(probedCids: _*))
      .withColumn("cid", col("cid").cast("long"))
    Similarity.probedTopK(lists, probes, k)((l, p) => l.join(broadcast(p), "cid"))
  }
}
