package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for the single route to graft's native expressions: library
  * code builds them through their Column constructors (`VectorOps.dot`,
  * `TextHash.hash60`, `MinhashBands.bandsCol`, `TopCells.cellsCol`, ...),
  * and [[GraftExtensions]] is the only place that registers their SQL
  * names. A temp-function registration on a session's function
  * registry, or a `graft_` function resolved by name
  * (`call_function("graft_...")`, `expr("...graft_x(...")`), anywhere
  * else in `src/main` would bring back per-query session registration,
  * so the pinned count is zero. Counting follows [[AuditScan]]'s rule,
  * comments excluded.
  */
class NativeExprAuditSpec extends AnyFunSuite {

  private val SrcRoot = "src/main/scala"

  private val Registry = "graft/GraftExtensions.scala"

  // [F] and the split literal below keep the registration method's name
  // itself out of src/, so a plain-text search for it stays empty
  private val Pattern =
    ("\\bcreateOrReplaceTemp[F]unction\\b" +
      "|\\bcall_function\\(\\s*\"graft_" +
      "|\\b(?:expr|selectExpr)\\(s?\"[^\"]*\\bgraft_\\w+\\(").r

  test("no graft_ function is registered or resolved by name outside GraftExtensions") {
    val root = Paths.get(SrcRoot)
    assert(Files.isDirectory(root),
      s"expected to run from the repo root; $SrcRoot not found under ${sys.props("user.dir")}")
    val found = AuditScan.scan(root, Pattern) - Registry
    assert(found.isEmpty,
      "name-based graft_ sites outside GraftExtensions:\n  " +
        found.toSeq.sorted.map { case (f, n) => s"$f: $n" }.mkString("\n  ") +
        "\nBuild the expression through its Column constructor instead " +
        "(ColumnShim.column(Expr(ColumnShim.expression(c))), next to the " +
        "expression's definition); SQL text resolves the name through " +
        "GraftExtensions.")
  }

  test("the pattern counts real call sites and skips names that are not calls") {
    def countOf(src: String) = AuditScan.countIn(src, Pattern)
    assert(countOf("""val d = call_function("graft_dot", col("v"), coefs)""") == 1)
    assert(countOf("""sqrt(expr(s"graft_dot($vAs, $vAs)"))""") == 1)
    assert(countOf("""expr("array_min(transform(g, x -> graft_hash60(x)))")""") == 1)
    assert(countOf("registry.createOrReplaceTemp" + "Function(\"f\", b, \"built-in\")") == 1)
    assert(countOf("""override def prettyName: String = "graft_dot"""") == 0)
    assert(countOf("""// expr("graft_dot(v, v)") was the old spelling""") == 0)
    assert(countOf("""sqrt(VectorOps.dot(col("v"), col("v")))""") == 0)
  }
}
