package graft

/** Plan-audit dev loop: prints the formatted physical plan of named
  * registered queries without running them — the scale-review loop
  * (pushdown, broadcast, codegen spans). Usage:
  *   sbt "runMain graft.PlanAudit [query_name ...]"
  * reads `SPARK_GRAFT_SF_DIR` (default: the sf0.01 test data); with no
  * names it prints a few representative queries. The session is
  * `GraftSession`'s, so the printed plan is the plan Verify and Bench
  * execute.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession()
    val targets = if (args.nonEmpty) args.toSeq else Seq(
      "q02_filter_project", "q03_star_join", "q04_left_join_agg", "q49_cosine_topk")
    targets.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name' — keys: ${SparkEntry.queries.keys.toSeq.sorted.take(5).mkString(", ")}..."))
      println(s"\n========== $name ==========")
      fn(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
