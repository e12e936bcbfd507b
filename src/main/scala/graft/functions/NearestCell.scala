package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native nearest-centroid argmin for live-gate cell placement: given the
  * trained coarse-quantizer matrix (a plan CONSTANT, shipped to the
  * generated code as one reference object — never |cells| literal
  * subtrees), a raw `array<double>` vector and its norm, returns the
  * first cell index maximizing dot(v/norm, centroid).
  *
  * Bit-identical to `Similarity.IvfKernel.nearestCell` fed
  * `v.map(_ / norm)`: the SAME elementwise division first (an argmax
  * over raw dots would usually agree but can diverge at representation
  * boundaries and under the all-zero-vector NaN flood — both paths keep
  * best = 0 there), then the same ascending multiply-accumulate per
  * centroid and strict `>` first-wins scan.
  *
  * Why this exact shape (two designs measured and rejected, PERF.md r12
  * verdict #3):
  * (1) one `array_dot(u, lit(centroid_c))` column per cell +
  * first-position-of-max — the projection collapse inlines the
  * normalization into every reference and the score array is referenced
  * twice: ~900 expression trees per row at ~450 cells, 250 s at 200k
  * rows where the typed-map encoder path took ~1.3 s;
  * (2) a unary argmin over a `transform(v, x -> x/norm)` column —
  * higher-order functions run their lambda INTERPRETED per element,
  * breaking the codegen span. Normalizing inside the generated loop
  * keeps the whole stage compiled. Null in either input yields null via
  * BinaryExpression null-intolerance. */
case class NearestCell(cents: Array[Array[Double]],
                       left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"nearest_cell expects (array<double>, double), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell"

  override protected def nullSafeEval(vec: Any, norm: Any): Any = {
    val u = vec.asInstanceOf[ArrayData].toDoubleArray()
    val n = norm.asInstanceOf[Double]
    var i = 0
    while (i < u.length) { u(i) /= n; i += 1 }
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val w = cents(c)
      var s = 0.0
      var j = 0
      while (j < w.length) { s += w(j) * u(j); j += 1 }
      if (s > bestDot) { bestDot = s; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, nrm) => {
      val m = ctx.addReferenceObj("cents", cents, "double[][]")
      val u = ctx.freshName("u")
      val best = ctx.freshName("best")
      val bestDot = ctx.freshName("bestDot")
      val c = ctx.freshName("c")
      val w = ctx.freshName("w")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |double[] $u = $a.toDoubleArray();
         |for (int $i = 0; $i < $u.length; $i++) { $u[$i] /= $nrm; }
         |int $best = 0;
         |double $bestDot = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $m.length; $c++) {
         |  double[] $w = $m[$c];
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $w.length; $j++) {
         |    $s += $w[$j] * $u[$j];
         |  }
         |  if ($s > $bestDot) { $bestDot = $s; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCell =
    copy(left = newLeft, right = newRight)
}

object NearestCell {
  /** Column API: first argmax cell of v/norm against the centroid
    * matrix. */
  def nearest_cell(cents: Array[Array[Double]], v: Column,
                   norm: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      NearestCell(cents,
        org.apache.spark.sql.graft.Bridge.expression(v),
        org.apache.spark.sql.graft.Bridge.expression(norm)))
}
