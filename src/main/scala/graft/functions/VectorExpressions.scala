package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the vector hot path: dot product over
  * two `array<double>` columns, with whole-stage codegen (`doGenCode`).
  *
  * Why an Expression and not `aggregate(zip_with(...))`: higher-order
  * functions evaluate their lambda per element through the interpreter —
  * measured 30× slower on the 64-dim fixtures — and break the surrounding
  * WholeStageCodegen span. Why not a UDF: a UDF boxes both arrays and the
  * result per row and is a codegen black box. This compiles to a tight
  * primitive loop inside the generated stage.
  *
  * Accumulation order is ascending-index, matching both the previous
  * fold-based implementation and DuckDB's list_dot_product — cosines stay
  * bit-identical for the oracle hash-compare.
  *
  * Null elements inside the arrays are not expected (fixture embeddings
  * are dense); null ARRAY inputs return null via BinaryExpression's
  * default null-intolerance. */
case class ArrayDotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native intersection COUNT over two SORTED-DISTINCT `array<long>`
  * columns — the dedup/graph verify hot path (r13 optimization round).
  *
  * Contract: both arrays strictly increasing (the repo's shingle-hash
  * `hs` arrays and sorted adjacency lists are constructed exactly so) —
  * then the two-pointer merge counts the intersection in O(|a|+|b|)
  * with no per-row allocation. The builtin
  * `size(array_intersect(a, b))` this replaces builds a hash set from
  * one side PER ROW (per-row allocation + hashing of every element) and
  * allocates the intersection array it immediately discards.
  * Cross-engine: the count of common elements of two sorted-distinct
  * arrays is the same set cardinality `list_intersect` measures on the
  * DuckDB side — consumer hashes unchanged (verified: containment
  * family + triangle_count oracle PASS).
  *
  * Null ARRAY inputs return null via BinaryExpression's default
  * null-intolerance (matching size(array_intersect) on null input ONLY
  * in the null→null sense the three call sites rely on — they never
  * feed null arrays, all arriving from inner joins). */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Column API for [[ArrayDotProduct]]. */
  def array_dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      ArrayDotProduct(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Column API for [[SortedIntersectCount]]. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SortedIntersectCount(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))
}

/** SparkSessionExtensions hook: registers `array_dot` for SQL use
  * (`spark.sql("SELECT array_dot(a, b) ...")`), the year-predicate
  * pushdown rewrite (graft.plans.YearPredicateRewrite), the as-of join
  * strategy and the small-shuffle collapse AQE rule
  * (graft.plans.SmallShuffleCollapse). Applied by GraftSession. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** Arity gate for the SQL builders: without it, `bitmap_distinct(a, b)`
    * would silently ignore the second argument (a silent-wrong-answer
    * shape) and a zero-arg call would surface as a raw
    * NoSuchElementException. Matches Spark's WRONG_NUM_ARGS analysis
    * error for built-in functions. */
  private def exactArity(name: String, expected: Int,
                         children: Seq[Expression]): Seq[Expression] = {
    if (children.length != expected)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> expected.toString,
          "actualNum" -> children.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"),
        cause = None)
    children
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      (children: Seq[Expression]) => {
        val cs = exactArity("array_dot", 2, children)
        ArrayDotProduct(cs.head, cs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (children: Seq[Expression]) => {
        val cs = exactArity("sorted_intersect_count", 2, children)
        SortedIntersectCount(cs.head, cs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("bitmap_distinct"),
      new ExpressionInfo(classOf[BitmapDistinct].getName, "bitmap_distinct"),
      (children: Seq[Expression]) =>
        BitmapDistinct(exactArity("bitmap_distinct", 1, children).head)))
    ext.injectOptimizerRule(_ => graft.plans.YearPredicateRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectQueryStagePrepRule(s => graft.plans.SmallShuffleCollapse(s))
  }
}
