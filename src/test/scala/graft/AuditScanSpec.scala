package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[AuditScan]]'s counting rule — the r16 advice fixes over the
  * r15 line-anchored rule: word-boundary matching, cross-line block
  * comments, and the two documented accepted limits (glob strings
  * containing a slash-star must NOT toggle comment state; trailing `//`
  * comments still count). The audit tripwires' falsifiability was
  * mutation-checked in r15; this spec makes the RULE itself falsifiable
  * the same way.
  */
class AuditScanSpec extends AnyFunSuite {

  private val Pattern = "\\bbroadcast\\(".r

  private def countOf(src: String): Int = AuditScan.countIn(src, Pattern)

  test("counts a plain call site once") {
    assert(countOf("val x = broadcast(dim)") == 1)
  }

  test("word boundary excludes rebroadcast-style identifiers") {
    assert(countOf("val x = rebroadcast(dim)") == 0)
    assert(countOf("functions.broadcast(dim)") == 1)
  }

  test("line comments and scaladoc stars yield zero") {
    assert(countOf("// broadcast(dim)\n  * broadcast(dim)") == 0)
  }

  test("block-comment interiors yield zero even without a * prefix") {
    // the exact r16 advice scenario: an interior line not prefixed with *
    assert(countOf("/* rationale:\nbroadcast(dim) is fine here\n*/") == 0)
  }

  test("the closing line counts only text after */") {
    assert(countOf("/* note:\nsee below\n*/ broadcast(dim)") == 1)
  }

  test("same-line /* ... */ does not swallow following lines") {
    assert(countOf("val a = 1 /* inline note */\nbroadcast(dim)") == 1)
  }

  test("accepted limit: parquet-glob strings with /* do not toggle comment state") {
    assert(countOf("""val g = s"$dir/*.parquet"""" + "\nbroadcast(dim)") == 1)
  }

  test("accepted limit: a trailing // comment is conservatively counted") {
    assert(countOf("val x = 1 // broadcast(dim) would be wrong here") == 1)
  }

  test("drift reports both directions and stays quiet in sync") {
    assert(AuditScan.drift(Map("A.scala" -> 2), Map("A.scala" -> 2)).isEmpty)
    val d = AuditScan.drift(Map("A.scala" -> 2, "B.scala" -> 1),
      Map("A.scala" -> 1))
    assert(d.exists(_.startsWith("A.scala: 2 site(s) in source vs 1 audited")))
    assert(d.exists(_.startsWith("B.scala: 1 site(s) in source vs 0 audited")))
  }
}
