package graft

import org.apache.spark.sql.SaveMode

/** The sizing-count memo (round-10 verdict item 1): every gram-family
  * query and the auto-ANN family paid an eager count() Spark job per
  * composition; Tables.rowCount amortizes that to one job per
  * (dir, table, file listing) per JVM. The memo must (a) return the
  * true count, (b) serve repeats without touching Spark's job
  * counter, and (c) MISS when the files under the same path change —
  * a stale bound from a regenerated dir could under-size a partition
  * gate, the exact spill the sizing exists to prevent. The entry is
  * validated by the same fresh listing the schema memo takes on every
  * read, so no writer has to announce a rewrite.
  */
class RowCountMemoSpec extends SparkSpec {
  import spark.implicits._

  private def jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length

  test("rowCount memoizes per (dir, stamp) and invalidates on epoch change") {
    val dir = java.nio.file.Files.createTempDirectory("rowcount").toString
    (1 to 100).toDF("v").write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")

    assert(Tables.rowCount(spark, dir, "documents") === 100L)
    assert(Tables.documentCount(spark, dir) === 100L)

    // repeat: served from the memo — no Spark job scheduled
    val jobsBefore = jobs
    assert(Tables.documentCount(spark, dir) === 100L)
    assert(Tables.documentCount(spark, dir) === 100L)
    assert(jobs === jobsBefore, "a memo hit must not schedule a Spark job")

    // regenerate the same dir (different rows, different file
    // listing): the memo must miss and re-count, never serve the
    // stale bound
    Thread.sleep(5) // ensure a distinct mtime even on coarse clocks
    (1 to 37).toDF("v").repartition(2).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    assert(Tables.documentCount(spark, dir) === 37L,
      "regenerated files under the same path must invalidate the memo")

    val jobsAfterMiss = jobs
    assert(Tables.documentCount(spark, dir) === 37L)
    assert(jobs === jobsAfterMiss, "the recounted entry is served from the memo again")
  }

  test("a directory rewritten with no announcement is recounted, and its schema reloaded") {
    val dir = java.nio.file.Files.createTempDirectory("rowcount-silent").toString
    val path = s"$dir/orders.parquet"
    (1 to 50).toDF("v").write.mode(SaveMode.Overwrite).parquet(path)
    assert(Tables.rowCount(spark, dir, "orders") === 50L)
    assert(Tables.orders(spark, dir).columns.toSeq === Seq("v"))

    // a plain Spark writer: nothing tells Tables the files changed
    Thread.sleep(5)
    (1 to 8).map(i => (i, i * 2)).toDF("v", "w").write.mode(SaveMode.Overwrite).parquet(path)
    assert(Tables.rowCount(spark, dir, "orders") === 8L,
      "the row-count memo must be validated by the listing, not by an announcement")
    assert(Tables.orders(spark, dir).columns.toSeq === Seq("v", "w"))
  }
}
