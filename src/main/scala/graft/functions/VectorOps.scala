package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two double-array columns.
  *
  * The built-in route — `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, ...)` —
  * is an interpreted HigherOrderFunction chain: per row it allocates a zipped
  * array and walks it with boxed lambda calls, which dominates wall-clock on
  * pairwise similarity (millions of 64-dim dots). This expression is the
  * custom-Catalyst-Expression path (SURVEY §7.3): a tight primitive loop over
  * `ArrayData`, fully inside whole-stage codegen — same left-to-right
  * summation order as the fold, so DuckDB oracles built on sequential sums
  * agree bit-for-bit.
  *
  * Null handling: null array → null result (nullSafe); elements are assumed
  * non-null (embedding vectors), matching list_dot_product.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is unusable outside org.apache.spark.sql (its
  // AbstractDataType signature is private[sql] in Spark 4), so the type
  // check is spelled out by hand.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  // nullable even when both children are not: a LENGTH MISMATCH returns
  // null (below), matching the built-in aggregate(zip_with(x, y, (a,b) ->
  // a*b), ...) chain this expression documents itself as bit-identical
  // to — zip_with pads the shorter side with null, the product nulls, and
  // the fold propagates it. Truncating to the shorter array instead
  // silently scored a malformed embedding row with a partial sum.
  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Column constructor for [[DotProduct]]: `dot(a, b)` builds the
  * expression directly, with no session state involved. SQL text reaches
  * the same expression as `graft_dot(a, b)` through [[graft.GraftExtensions]].
  */
object VectorOps {
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))
}
