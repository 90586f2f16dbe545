package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, Cost, CostEvaluator}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** SmallSortInOnePartition: a small global sort over a settled
  * aggregate runs as one single-partition exchange plus the sort (no
  * range exchange, so no sampling job), with the same total order;
  * sorts under a limit, over a join or above the advisory partition
  * size keep Spark's plan. */
class SmallSortInOnePartitionSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def events: DataFrame =
    (0 until 4000).map(i => (i % 97, i.toLong)).toDF("k", "v").repartition(4)

  /** Partitionings of the shuffle exchanges in the final adaptive
    * plan of `df`, after collecting it. */
  private def exchanges(df: DataFrame): Seq[String] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s.outputPartitioning match {
        case _: RangePartitioning => "range"
        case SinglePartition => "single"
        case other => other.getClass.getSimpleName
      }
    }
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private val byCount = events.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))

  test("fires on a small sort over an aggregate; the output is totally ordered") {
    val sorted = byCount.orderBy(col("s").desc, col("k"))
    val parts = exchanges(sorted)
    assert(parts.count(_ == "single") === 1, parts)
    assert(!parts.contains("range"), parts)
    val rows = sorted.as[(Int, Long, Long)].collect().toSeq
    assert(rows.length === 97)
    assert(rows === rows.sortBy { case (k, _, s) => (-s, k) })
  }

  test("fires on a small sort over a window top-k") {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("v").desc)
    val top = events.withColumn("r", row_number().over(w)).filter(col("r") <= 2)
      .select("k", "r", "v").orderBy("k", "r")
    val parts = exchanges(top)
    assert(parts.count(_ == "single") === 1, parts)
    assert(!parts.contains("range"), parts)
    val rows = top.as[(Int, Int, Long)].collect().toSeq
    assert(rows.map(r => (r._1, r._2)) === (0 until 97).flatMap(k => Seq((k, 1), (k, 2))))
  }

  test("does not fire under a limit") {
    // Spark's own cost evaluator would veto the extra exchange a
    // rewrite under a top-k adds; with every plan costed alike, AQE
    // adopts whatever the rule returns, so this sees the rule itself
    val parts = withConf("spark.sql.adaptive.customCostEvaluatorClass",
      classOf[AdoptAnyPlan].getName)(exchanges(byCount.orderBy(col("s").desc, col("k")).limit(5)))
    assert(!parts.contains("single"), parts)
  }

  test("does not fire over a join") {
    val names = (0 until 97).map(k => (k, s"n$k")).toDF("k", "name").repartition(4)
    val joined = byCount.join(names, "k").orderBy("k")
    // a shuffled join of two small settled inputs: its product size
    // estimate is under the bound, so only the join check keeps the
    // range sort (a broadcast side's estimate alone would exceed it)
    val parts = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(exchanges(joined))
    assert(parts.contains("range"), parts)
    assert(!parts.contains("single"), parts)
    val ks = joined.select("k").as[Int].collect().toSeq
    assert(ks === (0 until 97))
  }

  test("does not fire above the advisory partition size") {
    val parts = withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16")(
      exchanges(byCount.orderBy(col("s").desc, col("k"))))
    assert(parts.contains("range"), parts)
    assert(!parts.contains("single"), parts)
  }
}

/** An AQE cost evaluator that costs every plan alike, so a re-optimized
  * plan that differs is always adopted. */
class AdoptAnyPlan extends CostEvaluator {
  override def evaluateCost(plan: SparkPlan): Cost = AdoptAnyPlan.Flat
}

object AdoptAnyPlan {
  object Flat extends Cost { override def compare(that: Cost): Int = 0 }
}
