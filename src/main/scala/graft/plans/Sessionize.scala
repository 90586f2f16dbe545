package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Whole-operator custom plan (the last rung of the custom-op ladder,
  * SURVEY.md §7 / spark_guide "Custom operator"): event sessionization
  * as a first-class operator — logical node, planner strategy, and a
  * physical exec that DECLARES its distribution/ordering requirements
  * so EnsureRequirements plans exactly one hash exchange + per-
  * partition sort, then assigns session sequence numbers in a single
  * streaming pass (no window-function buffering).
  *
  * Equivalent to the two-window lag+cumsum formulation (q34) but: one
  * operator instead of two window passes, O(1) state per partition,
  * and the physical plan shows intent (`SessionizeExec`). The window
  * formulation remains the oracle-checked reference semantics; the
  * spec proves equivalence row-for-row.
  */
case class Sessionize(child: LogicalPlan, key: Attribute, ts: Attribute,
                      gapMicros: Long,
                      // constructor parameter (NOT a body val): plan
                      // copies during analysis/optimization must keep
                      // the same exprId or downstream references
                      // unbind (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
                      sessionAttr: AttributeReference =
                        AttributeReference("session_seq", LongType, nullable = false)())
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ sessionAttr
  // session_seq is PRODUCED here, not consumed — without this the
  // analyzer reports it missing from the child's output
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(sessionAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): Sessionize =
    copy(child = newChild)
}

case class SessionizeExec(child: SparkPlan, key: Attribute, ts: Attribute,
                          gapMicros: Long, sessionAttr: Attribute)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ sessionAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(sessionAttr)

  // one hash exchange on the key...
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(key)))
  // ...and a per-partition sort by (key, ts): Spark inserts both.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending), SortOrder(ts, Ascending)))
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val keyIdx = child.output.indexWhere(_.exprId == key.exprId)
    val tsIdx = child.output.indexWhere(_.exprId == ts.exprId)
    val keyType = key.dataType
    child.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(output, output)
      val joined = new JoinedRow
      val sessRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      var curKey: Any = null
      var haveKey = false
      var lastTs = 0L
      var lastTsNull = true
      var seq = 0L
      it.map { row =>
        val kView = row.get(keyIdx, keyType)
        val sameKey = haveKey && ((curKey == null && kView == null) ||
          (curKey != null && curKey.equals(kView)))
        if (!sameKey) {
          // values read from UnsafeRow buffers are reused as the
          // iterator advances — copy ONLY on key change (atomic types
          // enforced at the API; UTF8String is the one buffer-backed
          // atomic)
          curKey = kView match {
            case s: UTF8String => s.clone()
            case other => other
          }
        }
        val tNull = row.isNullAt(tsIdx)
        val t = if (tNull) 0L else row.getLong(tsIdx)
        // window-formulation parity: a null gap (either endpoint null)
        // starts a new session, exactly like `gap IS NULL OR gap > g`
        if (!sameKey) seq = 1L
        else if (tNull || lastTsNull || t - lastTs > gapMicros) seq += 1L
        haveKey = true; lastTs = t; lastTsNull = tNull
        sessRow.update(0, seq)
        proj(joined(row, sessRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SessionizeExec =
    copy(child = newChild)
}

/** Planner strategy mapping the logical node to its exec (injected by
  * GraftExtensions). */
object SessionizeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: Sessionize =>
      SessionizeExec(planLater(s.child), s.key, s.ts, s.gapMicros, s.sessionAttr) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API. */
object SessionizeOp {
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 gapSeconds: Long): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not found in ${analyzed.output.map(_.name)}"))
    val k = attr(keyCol)
    // nested key types would hand back reused UnsafeRow buffer views
    // in the exec's cross-row comparison — refuse them up front
    require(!k.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] &&
      !k.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
      !k.dataType.isInstanceOf[org.apache.spark.sql.types.MapType],
      s"sessionize key must be an atomic type, got ${k.dataType.sql}")
    GraftSqlBridge.ofRows(df.sparkSession,
      Sessionize(analyzed, k, attr(tsCol), gapSeconds * 1000000L))
  }
}
