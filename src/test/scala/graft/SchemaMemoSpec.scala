package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.util.Try
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types.LongType

/** Tables' parquet-schema memo: a read of an unchanged table starts
  * no Spark job, while a rewritten directory or a session whose
  * parquet confs differ never sees a stale schema. */
class SchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Jobs started while `body` runs. The listener bus is asynchronous
    * but FIFO, so once a sentinel job run after `body` is seen, every
    * job `body` started has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val started = new AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "memo-sentinel"))
          sentinelSeen.countDown()
        else started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobGroup("memo-sentinel", "listener barrier")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      started.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a second load of an unchanged table starts no Spark job") {
    val dir = tempDir("schemamemo")
    (1 to 50).map(i => (i, s"r$i")).toDF("k", "v").write.parquet(s"$dir/region.parquet")
    assert(jobsDuring(Tables.region(spark, dir).schema) >= 1, "the first load infers")
    var cols = Seq.empty[String]
    assert(jobsDuring { cols = Tables.region(spark, dir).columns.toSeq } === 0)
    assert(cols === Seq("k", "v"))
    assert(Tables.region(spark, dir).as[(Int, String)].collect().length === 50)
  }

  test("a directory rewritten with an added column loads with the new schema, no tick bump") {
    val dir = tempDir("schemamemo")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/nation.parquet")
    assert(Tables.nation(spark, dir).columns.toSeq === Seq("id", "v"))
    Thread.sleep(5) // a distinct mtime even on coarse clocks
    Seq((2L, "b", 3.0)).toDF("id", "v", "w").write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/nation.parquet")
    val reread = Tables.nation(spark, dir)
    assert(reread.columns.toSeq === Seq("id", "v", "w"))
    assert(reread.as[(Long, String, Double)].collect().toSeq === Seq((2L, "b", 3.0)))
  }

  test("sessions with different nanosAsLong settings do not share an entry") {
    // a TIMESTAMP(NANOS) column, written without Spark's schema
    // metadata (Spark cannot write one), so the session conf decides
    // how it converts
    val dir = tempDir("schemamemo")
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val file = new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet")
    val writer = ExampleParquetWriter.builder(file).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally writer.close()

    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    def tsType(s: org.apache.spark.sql.SparkSession) =
      Try(Tables.load(s, dir, "events").schema("ts").dataType).toOption
    assert(tsType(spark) === Some(LongType))
    assert(tsType(other) !== Some(LongType),
      "a session without nanosAsLong must not reuse the nanosAsLong schema")
    assert(tsType(spark) === Some(LongType))
  }
}
