package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, RegExpExtractBase, RegExpReplace, StringRegexExpression, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeserializeToObject, Distinct, Expand, Filter, Generate, Join, LogicalPlan, MapElements, MapPartitions, Project, Repartition, RepartitionOperation, SerializeFromObject, Sort, Union, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Optimizer rule: fan an under-split parquet scan out across the
  * session's cores when per-row kernels run between it and its first
  * shuffle.
  *
  * A small table is one split, so everything the scan's task does
  * before the first exchange — tokenize-and-explode, n-gram and
  * shingle higher-order functions, graft's native vector kernels —
  * runs on one core however many the session has. The rule inserts
  * `Repartition(cores)` (round-robin) directly above a batch parquet
  * relation when both hold:
  *  - its natural split count, ceil(bytes in its file index /
  *    `spark.sql.files.maxPartitionBytes`), is below the core count;
  *  - the row-wise operators between it and its first shuffle (an
  *    Aggregate, Join, Window, global Sort, Distinct or repartition)
  *    evaluate a kernel: a `Generate`, a higher-order function, a
  *    regular expression or split (the tokenizers and text-quality
  *    signals), or graft native code (a graft expression, or a typed
  *    map over a graft function).
  * Filters do not count: Spark pushes a deterministic filter below
  * the repartition, so it runs in the scan's task either way.
  *
  * It leaves alone:
  *  - a segment that ends at the plan root, such as a persisted leg:
  *    the exchange would only fan out the cache's encode, measured
  *    slower (q135, q151);
  *  - a scan whose first shuffle is a hand-placed round-robin
  *    repartition or a coalesce: its caller chose the partitioning;
  *  - anything under a limit, a sample, any other operator not listed
  *    above or a non-deterministic expression, whose rows depend on
  *    the input's partitioning;
  *  - streaming plans, whose relations include the stream's own.
  * It runs in the operator-optimization fixed point, so column pruning
  * and filter pushdown still pass the inserted repartition and reach
  * the scan. It is idempotent: only those pruning projections and
  * pushed filters ever sit between an inserted repartition and its
  * scan, and neither evaluates a kernel. Round-robin keeps
  * `sortBeforeRepartition` determinism; what changes is only the
  * order in which rows reach the first shuffle.
  */
case class FanOutUnderSplitScans(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else visit(plan, open = false, kernel = false)

  /** `open`: a shuffle sits above `p` with only row-wise operators in
    * between; `kernel`: one of those operators evaluates a kernel. */
  private def visit(p: LogicalPlan, open: Boolean, kernel: Boolean): LogicalPlan = p match {
    case _: Repartition => p.mapChildren(visit(_, open = false, kernel = false))
    case _: Aggregate | _: Join | _: Window | _: Distinct | _: RepartitionOperation =>
      p.mapChildren(visit(_, open = true, kernel = false))
    case s: Sort if s.global => p.mapChildren(visit(_, open = true, kernel = false))
    case _: Filter | _: Project | _: Generate | _: Expand | _: Union | _: WindowGroupLimit | _: Sort |
        _: DeserializeToObject | _: MapPartitions | _: MapElements | _: SerializeFromObject
        if p.expressions.forall(_.deterministic) =>
      p.mapChildren(visit(_, open, kernel || evaluatesKernel(p)))
    case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
        if open && kernel && fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
      val cores = session.sparkContext.defaultParallelism
      val splitBytes = math.max(1L, conf.filesMaxPartitionBytes)
      val naturalSplits = (fs.location.sizeInBytes + splitBytes - 1L) / splitBytes
      if (naturalSplits < cores) Repartition(cores, shuffle = true, r) else r
    case _ => p.mapChildren(visit(_, open = false, kernel = false))
  }

  private def evaluatesKernel(p: LogicalPlan): Boolean = p match {
    case _: Generate => true
    case _: Filter => false
    case m: MapPartitions => isGraft(m.func)
    case m: MapElements => isGraft(m.func)
    case _ => p.expressions.exists(_.exists(isKernel))
  }

  private def isKernel(e: Expression): Boolean = e match {
    case _: HigherOrderFunction | _: StringRegexExpression | _: RegExpExtractBase |
        _: RegExpReplace | _: StringSplit => true
    case _ => isGraft(e)
  }

  private def isGraft(code: AnyRef): Boolean = code.getClass.getName.startsWith("graft.")
}
