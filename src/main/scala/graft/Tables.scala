package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take a scale-factor directory and read only what they
  * need — filters/projections stay above the scan so Catalyst pushes
  * them into the parquet reader (column pruning + predicate pushdown,
  * the same layout discipline the reference gets from Hive-style
  * partitioning, cf. reference kafka_to_bronze.py:62-67).
  *
  * [[load]] and the merge's target read (telecom.Pipeline) go through
  * one parquet-schema memo ([[readParquet]]): inferring a parquet
  * schema is a Spark job, and a query composed over unchanged tables
  * should not pay one per table. An entry is
  * valid only for the exact file listing it was inferred from — a
  * fresh (name, length, mtime) listing on every read, which also
  * validates the row-count memo ([[rowCount]]). Spark's part-file
  * names carry a per-job UUID, so any rewrite of a directory changes
  * its listing, and the next read infers again. The entry also
  * carries the session confs that change how a footer converts to a
  * Spark schema ([[schemaConfs]]), so two sessions that differ in one
  * never share it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** Parquet schema memo: path → ((listing stamp, conf key), schema),
    * at most one entry per path (replaced on mismatch). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Seq[Any]), StructType)]()

  /** Session confs that change parquet schema conversion. Bench and
    * Verify sessions set nanosAsLong; medallion sessions do not. */
  private val schemaConfs = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED)

  private def schemaKey(s: SparkSession, path: String): (Long, Seq[Any]) =
    (listStamp(s, path), schemaConfs.map(c => s.sessionState.conf.getConf(c)))

  /** `spark.read.parquet(path)`, with the schema inferred at most once
    * per (file listing, conf key): a hit reads with the memoized
    * schema and starts no Spark job. The listing is taken BEFORE the
    * inference, so a directory rewritten in between is stored under
    * the old stamp and simply misses next time. */
  private[graft] def readParquet(s: SparkSession, path: String): DataFrame = {
    val key = schemaKey(s, path)
    memoized(path, key) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None =>
        val df = s.read.parquet(path)
        if (key._1 != -1L) schemaCache.put(path, (key, df.schema))
        df
    }
  }

  /** Record the schema of the parquet files a writer just wrote under
    * `path` from a frame of schema `written`, so the next read infers
    * nothing. A reader sees every parquet column as nullable, so the
    * nullable copy is stored. */
  private[graft] def recordSchema(s: SparkSession, path: String, written: StructType): Unit =
    schemaCache.put(path, (schemaKey(s, path), nullable(written)))

  /** The memoized schema of `path`, if it is valid for the files there
    * now and this session's confs. */
  private[graft] def memoSchema(s: SparkSession, path: String): Option[StructType] =
    memoized(path, schemaKey(s, path))

  private def memoized(path: String, key: (Long, Seq[Any])): Option[StructType] =
    Option(schemaCache.get(path)).collect { case (k, schema) if k == key => schema }

  private def nullable(t: StructType): StructType = {
    def go(d: DataType): DataType = d match {
      case st: StructType => nullable(st)
      case a: ArrayType => ArrayType(go(a.elementType), containsNull = true)
      case m: MapType => MapType(go(m.keyType), go(m.valueType), valueContainsNull = true)
      case other => other
    }
    StructType(t.fields.map(f => f.copy(dataType = go(f.dataType), nullable = true)))
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")

  /** events.parquet has shipped `ts` under several encodings across
    * testdata regenerations; normalize them all to a µs TimestampType
    * in this one place so every downstream query can assume it:
    *  - TIMESTAMP(NANOS) → LongType under
    *    spark.sql.legacy.parquet.nanosAsLong=true (set in Verify/Bench
    *    sessions); integer DIV, because ns epochs ~1.7e18 exceed
    *    double's 2^53 mantissa and float division would corrupt them.
    *  - µs TIMESTAMP with isAdjustedToUTC=false → TimestampNTZType;
    *    the session TZ is pinned to UTC, so a cast to TimestampType is
    *    value-exact and `unix_micros` matches DuckDB's epoch_us.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Session-scoped memo of a table's row count, keyed by (path, file
    * listing stamp) — the directionCache idiom (SimilarityOps). The
    * sizing paths (ExplodedJoin gates, auto-IVF candidate estimates)
    * need a row-count BOUND, and while a bare parquet count() is
    * metadata-cheap it is not free: it schedules a real Spark job per
    * call, and the gram family + auto-ANN family each paid one per
    * query composition (measured +0.4-1.0 s each at sf0.1, round-10
    * verdict item 1). One count per table listing amortizes that to
    * zero on every re-composition. The entry is validated by the same
    * fresh (name, length, mtime) listing the schema memo takes on
    * every read, so a directory rewritten by any writer is recounted
    * and a stale bound can never under-size a partition gate. At most
    * one entry per path survives (the value carries its stamp and is
    * replaced on mismatch). */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Order-independent hash of (name, length, mtime) over the files
    * under `path`; -1 when it does not exist. */
  private def listStamp(s: SparkSession, path: String): Long =
    leafFiles(s, path).fold(-1L)(_.foldLeft(0L) { (h, f) =>
      h + (f.getPath.getName.hashCode.toLong * 1099511628211L + f.getLen) * 31L +
        f.getModificationTime
    })

  /** Files under `path`, recursively, or None if it does not exist.
    * Walks `listStatus`, not `listFiles`: the LocatedFileStatus that
    * `listFiles` builds asks every file for its permissions, which a
    * local filesystem without native IO answers by forking `ls`. */
  private def leafFiles(s: SparkSession, path: String): Option[Seq[FileStatus]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk) else Seq(st)
    try Some(walk(fs.getFileStatus(p)))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Memoized `count()` of a driver-generated table — use for sizing
    * estimates, never for query output (outputs must stay lazy). The
    * listing is taken BEFORE the count, so a directory rewritten in
    * between is stored under the old stamp and recounted next time. */
  def rowCount(s: SparkSession, dir: String, name: String): Long = {
    val path = s"$dir/$name.parquet"
    val stamp = listStamp(s, path)
    countCache.compute(path, (_, cur) =>
      if (cur != null && cur._1 == stamp) cur
      else (stamp, load(s, dir, name).count()))._2
  }

  /** The documents-table bound every gram-family sizer keys on. */
  def documentCount(s: SparkSession, dir: String): Long =
    rowCount(s, dir, "documents")

  /** Register every table as a temp view (for spark.sql surfaces). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
