package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for stranded scaladoc: Scaladoc attaches only the LAST doc
  * comment before a definition, so a `/** */` block followed directly by
  * another one documents nothing and its text silently leaves the
  * generated docs. Such a block is either merged into the next one or
  * moved onto the definition it describes; the pinned count in
  * `src/main` is zero.
  */
class ScaladocAuditSpec extends AnyFunSuite {

  private val SrcRoot = "src/main/scala"

  // a block's closing star-slash, then only whitespace, then a doc opener
  private val Stranded = "\\*/\\s*/\\*\\*".r

  test("no scaladoc block in src/main is followed directly by another") {
    val root = Paths.get(SrcRoot)
    assert(Files.isDirectory(root),
      s"expected to run from the repo root; $SrcRoot not found under ${sys.props("user.dir")}")
    val sites = AuditScan.rawSites(root, Stranded)
    assert(sites.isEmpty,
      "doc blocks stranded before another doc block (the line of the second one):\n  " +
        sites.mkString("\n  ") +
        "\nMove each stranded block onto the definition it describes, or merge it " +
        "into the block that follows.")
  }

  test("the pattern finds a doc block stranded before another and nothing else") {
    def countOf(src: String) = Stranded.findAllIn(src).size
    assert(countOf("/** first */\n/** second */\ndef f = 1") == 1)
    assert(countOf("/** first\n  */\n\n  /** second */\n  def f = 1") == 1)
    assert(countOf("/** one */\ndef f = 1\n/** two */\ndef g = 2") == 0)
    assert(countOf("/** doc */\n// a line comment\n/** doc */") == 0)
    assert(countOf("/* plain */\n/* plain */") == 0)
  }
}
