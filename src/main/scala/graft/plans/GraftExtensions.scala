package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extensions (activate with
  * spark.sql.extensions=graft.plans.GraftExtensions) — the idiomatic
  * plug-in point for custom Catalyst pieces. They register graft's
  * native expressions and aggregates as SQL functions, three optimizer
  * rules ([[RewriteDotProduct]], [[RewriteBoundedLevenshtein]] and
  * [[FanOutUnderSplitScans]], the one place that decides when a scan
  * fans out across cores), one AQE runtime optimizer rule
  * ([[SmallSortInOnePartition]]) and one planner strategy
  * (SessionizeStrategy).
  *
  * The extension is required, not optional: every operator that calls
  * a graft_* function has that one code path and no built-in
  * fallback, so on a session without it the call fails at analysis
  * with UNRESOLVED_ROUTINE. `graft.GraftSession` always loads it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.intLiteral

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[DotProductLong].getName, "graft_dot_long"),
      (children: Seq[Expression]) => DotProductLong(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_intersect_size"),
      new ExpressionInfo(classOf[IntersectSizeSorted].getName, "graft_intersect_size"),
      (children: Seq[Expression]) => IntersectSizeSorted(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_ivf_top"),
      new ExpressionInfo(classOf[IvfTopCentroids].getName, "graft_ivf_top"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          s"graft_ivf_top requires (vec, codebook, norms, p literal), got ${children.length}")
        IvfTopCentroids(children.head, children(1), children(2),
          intLiteral("graft_ivf_top", "p", children(3)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_ivf_top_l2"),
      new ExpressionInfo(classOf[IvfTopCentroids].getName, "graft_ivf_top_l2"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          s"graft_ivf_top_l2 requires (vec, codebook, norms2, p literal), got ${children.length}")
        IvfTopCentroids(children.head, children(1), children(2),
          intLiteral("graft_ivf_top_l2", "p", children(3)), l2 = true)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[KmvSketchAgg].getName, "graft_kmv"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_kmv requires exactly (value, k literal) arguments, got ${children.length}")
        KmvSketchAgg(children.head, intLiteral("graft_kmv", "k", children(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_mg_sketch"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "graft_mg_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_mg_sketch requires exactly (value, capacity literal) arguments, got ${children.length}")
        MisraGriesAgg(children.head, intLiteral("graft_mg_sketch", "capacity", children(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAgg].getName, "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3,
          s"graft_bloom_agg requires (hash, expectedItems[, fpp]), got ${children.length} args")
        val items = children(1) match {
          case Literal(v: Int, _) => v.toLong
          case Literal(v: Long, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_bloom_agg expectedItems must be an integer literal, got $other")
        }
        val fpp = if (children.length < 3) 0.03 else children(2) match {
          case Literal(v: Double, _) => v
          // SQL decimal literals (e.g. 0.01) wrap Spark's Decimal,
          // not java.math.BigDecimal
          case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
          case other => throw new IllegalArgumentException(
            s"graft_bloom_agg fpp must be a numeric literal, got $other")
        }
        BloomFilterAgg(children.head, items, fpp)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms"),
      new ExpressionInfo(classOf[CmsSketchAgg].getName, "graft_cms"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_cms requires (md5_hex, depth literal, width literal), got ${children.length} args")
        CmsSketchAgg(children.head, intLiteral("graft_cms", "depth", children(1)),
          intLiteral("graft_cms", "width", children(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hdr"),
      new ExpressionInfo(classOf[HdrQuantileAgg].getName, "graft_hdr"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_hdr requires (value, b literal, pct literal), got ${children.length} args")
        HdrQuantileAgg(children.head, intLiteral("graft_hdr", "b", children(1)),
          intLiteral("graft_hdr", "pct", children(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_might_contain requires (bloom, hash), got ${children.length} args")
        BloomMightContain(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hilbert"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "graft_hilbert"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_hilbert requires (x, y, bits literal), got ${children.length} args")
        HilbertIndex(children.head, children(1), intLiteral("graft_hilbert", "bits", children(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_lcp"),
      new ExpressionInfo(classOf[CommonPrefixLength].getName, "graft_lcp"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_lcp requires (string, string), got ${children.length} args")
        CommonPrefixLength(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_topk requires (score, payload, k literal), got ${children.length} args")
        TopKAgg(children.head, children(1), intLiteral("graft_topk", "k", children(2)))
      }))
    ext.injectOptimizerRule(_ => RewriteDotProduct)
    ext.injectOptimizerRule(_ => RewriteBoundedLevenshtein)
    ext.injectOptimizerRule(FanOutUnderSplitScans)
    ext.injectRuntimeOptimizerRule(_ => SmallSortInOnePartition)
    ext.injectPlannerStrategy(_ => SessionizeStrategy)
  }
}

object GraftExtensions {

  /** The Int value of a function's integer-literal argument: an Int,
    * or a Long that fits one. It only converts; each expression checks
    * its own value range (in `checkInputDataTypes`, or
    * [[IvfTopCentroids]]' constructor), so `graft_topk(s, p, 0)` and
    * `graft_topk(s, p, 0L)` fail alike. */
  private def intLiteral(fn: String, what: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) if v.isValidInt => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn $what must be an integer literal that fits an Int, got $other")
  }
}
