package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Top-p centroid indices for a quantized vector against a literal
  * codebook — the kernel that keeps an auto-scaled IVF (numCentroids
  * ≈ √n) a pure projection at any codebook size.
  *
  * Why a custom Expression (SURVEY.md §7 ladder, same rationale as
  * [[DotProductLong]]): the compositional alternatives stop scaling
  * with the codebook. `greatest(struct...)` over k literal centroids
  * builds a k×d-literal expression tree — fine at k=16, pathological
  * at k=√n (count ~775 at the sf10 sweep point: analyzer/codegen blow
  * up, or fall back to interpreted). The crossJoin+window probe
  * formulation materializes |rows|×k candidates through a shuffle —
  * the round-7 sweep measured q75's fixed-16 variant at e=2.1 with
  * 13 GB of window spill at sf10. This expression is one data-driven
  * loop per row: O(k·d) multiply-adds, no join, no shuffle, no
  * intermediate allocation, inside whole-stage codegen.
  *
  * Semantics (shared verbatim with the DuckDB oracle's window
  * formulation): score(c) = dot(vec, codebook[c]) / aux[c] in cosine
  * mode (aux = |c|), or 2·dot − aux[c] in L2 mode (aux = ‖c‖²:
  * descending 2v·c − ‖c‖² ≡ ascending ‖c−v‖², the residual-coding
  * rule of [[graft.operators.Similarity.ivfAssign]] with `l2 = true`).
  * Doubles descending, ties broken toward the SMALLER index —
  * iterate ascending and insert only on strictly-greater score.
  * Returns the min(p, k) top indices. Null vector → null; a centroid
  * whose dimension differs from the vector's → null (poisoned input,
  * same contract as [[DotProductLong]]). The integer dot is exact
  * (inputs quantized below 2^53 partial sums); the cosine division
  * is IEEE-identical cross-engine, and the L2 form subtracts two
  * exactly-representable integer doubles — so oracle hash parity
  * holds in both modes.
  */
case class IvfTopCentroids(vec: Expression, codebook: Expression,
    norms: Expression, p: Int, l2: Boolean = false) extends TernaryExpression {

  require(p >= 1, s"graft_ivf_top p must be >= 1, got $p")

  override def first: Expression = vec
  override def second: Expression = codebook
  override def third: Expression = norms

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (vec.dataType, codebook.dataType, norms.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _),
            ArrayType(DoubleType, _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (ARRAY<BIGINT>, ARRAY<ARRAY<BIGINT>>, ARRAY<DOUBLE>), " +
        s"got ${vec.dataType.sql}, ${codebook.dataType.sql}, ${norms.dataType.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = if (l2) "graft_ivf_top_l2" else "graft_ivf_top"

  override protected def nullSafeEval(v: Any, cb: Any, ns: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val book = cb.asInstanceOf[ArrayData]
    val nrm = ns.asInstanceOf[ArrayData]
    val d = vec.numElements()
    val k = book.numElements()
    val m = math.min(p, k)
    val bestS = new Array[Double](m)
    val bestI = new Array[Int](m)
    var filled = 0
    var c = 0
    while (c < k) {
      val cv = book.getArray(c)
      if (cv.numElements() != d) return null
      var dot = 0L
      var i = 0
      while (i < d) { dot += vec.getLong(i) * cv.getLong(i); i += 1 }
      val score =
        if (l2) 2.0 * dot.toDouble - nrm.getDouble(c)
        else dot.toDouble / nrm.getDouble(c)
      if (filled < m || score > bestS(m - 1)) {
        var pos = if (filled < m) filled else m - 1
        while (pos > 0 && bestS(pos - 1) < score) {
          bestS(pos) = bestS(pos - 1); bestI(pos) = bestI(pos - 1); pos -= 1
        }
        bestS(pos) = score; bestI(pos) = c
        if (filled < m) filled += 1
      }
      c += 1
    }
    new GenericArrayData(bestI.take(filled))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cb, ns) => {
      val d = ctx.freshName("d"); val k = ctx.freshName("k")
      val m = ctx.freshName("m"); val bestS = ctx.freshName("bestS")
      val bestI = ctx.freshName("bestI"); val filled = ctx.freshName("filled")
      val c = ctx.freshName("c"); val cv = ctx.freshName("cv")
      val dot = ctx.freshName("dot"); val i = ctx.freshName("i")
      val score = ctx.freshName("score"); val pos = ctx.freshName("pos")
      val res = ctx.freshName("res")
      s"""
         |final int $d = $v.numElements();
         |final int $k = $cb.numElements();
         |final int $m = Math.min($p, $k);
         |final double[] $bestS = new double[$m];
         |final int[] $bestI = new int[$m];
         |int $filled = 0;
         |for (int $c = 0; $c < $k && !${ev.isNull}; $c++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $cb.getArray($c);
         |  if ($cv.numElements() != $d) { ${ev.isNull} = true; break; }
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $dot += $v.getLong($i) * $cv.getLong($i);
         |  }
         |  final double $score = ${if (l2) s"2.0 * (double) $dot - $ns.getDouble($c)"
                                    else s"(double) $dot / $ns.getDouble($c)"};
         |  if ($filled < $m || $score > $bestS[$m - 1]) {
         |    int $pos = ($filled < $m) ? $filled : $m - 1;
         |    while ($pos > 0 && $bestS[$pos - 1] < $score) {
         |      $bestS[$pos] = $bestS[$pos - 1]; $bestI[$pos] = $bestI[$pos - 1]; $pos--;
         |    }
         |    $bestS[$pos] = $score; $bestI[$pos] = $c;
         |    if ($filled < $m) $filled++;
         |  }
         |}
         |if (!${ev.isNull}) {
         |  final int[] $res = java.util.Arrays.copyOf($bestI, $filled);
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): IvfTopCentroids =
    copy(vec = newFirst, codebook = newSecond, norms = newThird)
}
