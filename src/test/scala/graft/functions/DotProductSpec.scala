package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DotProductSpec extends SparkTestBase {

  /** The dot product of one row through both routes to the expression:
    * the Column constructor and the SQL name (resolved by GraftExtensions,
    * which TestSpark installs). They must agree before either is checked.
    */
  private def dotOf(a: Seq[Double], b: Seq[Double]): java.lang.Double = {
    import spark.implicits._
    val r = Seq((a, b)).toDF("a", "b")
      .select(VectorOps.dot(col("a"), col("b")), expr("graft_dot(a, b)"))
      .collect()(0)
    assert(r.get(0) === r.get(1), "Column constructor and SQL name disagree")
    if (r.isNullAt(0)) null else r.getDouble(0)
  }

  test("matches the sequential fold exactly (same summation order)") {
    val a = Seq(0.1, 0.2, 0.3, 1e-9)
    val b = Seq(3.0, -2.5, 0.25, 1e9)
    val fold = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    assert(dotOf(a, b) === fold)
  }

  test("interpreted eval equals codegen result") {
    val a = Seq(1.5, -2.0, 4.25)
    val b = Seq(0.5, 3.0, -1.0)
    // eval() path (interpreted, what nullSafeEval runs)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val interp = DotProduct(
      Literal.create(ArrayData.toArrayData(a.toArray), ArrayType(DoubleType)),
      Literal.create(ArrayData.toArrayData(b.toArray), ArrayType(DoubleType))).eval(null)
    assert(interp === dotOf(a, b)) // dotOf goes through whole-stage codegen
  }

  test("null array yields null; length mismatch yields null like the built-in chain") {
    assert(dotOf(null, Seq(1.0)) === null)
    // aggregate(zip_with(a, b, (x,y) -> x*y), ...) null-pads the shorter
    // side and the fold propagates the null — a truncated partial sum
    // would silently score a malformed embedding row
    assert(dotOf(Seq(2.0, 3.0), Seq(10.0)) === null)
    val builtin = {
      import spark.implicits._
      val r = Seq((Seq(2.0, 3.0), Seq(10.0))).toDF("a", "b")
        .select(expr(
          "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"))
        .collect()(0)
      if (r.isNullAt(0)) null else r.getDouble(0)
    }
    assert(builtin === null, "built-in chain changed semantics")
  }

  test("rejects non-double-array inputs at analysis time") {
    import spark.implicits._
    val strings = Seq(("x", "y")).toDF("a", "b")
    Seq(VectorOps.dot(col("a"), col("b")), expr("graft_dot(a, b)")).foreach { c =>
      val err = intercept[Exception](strings.select(c).collect())
      assert(err.getMessage.toLowerCase.contains("array"))
    }
  }
}
