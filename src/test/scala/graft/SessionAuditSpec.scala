package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Tripwire for the single session posture: [[GraftSession]] is the only
  * code that builds a SparkSession, so Bench, Verify, the test suite and
  * every harness plan under one conf list. A `SparkSession.builder` (or a
  * `.builder()` chained on the next line) anywhere else in `src/main` or
  * `src/test` would bring back a hand-rolled conf list that can drift
  * from it, so the pinned count is zero. The per-session memo fields
  * are pinned per file too. Counting follows [[AuditScan]]'s rule,
  * comments excluded.
  */
class SessionAuditSpec extends AnyFunSuite {

  private val Factory = "main/scala/graft/core/GraftSession.scala"

  private val Pattern =
    ("\\bSparkSession\\s*\\.\\s*[Bb]uilder\\b" +
      "|^\\s*\\.builder\\(\\)").r

  test("no SparkSession is built outside GraftSession") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root.resolve("main/scala")),
      s"expected to run from the repo root; src/main/scala not found under ${sys.props("user.dir")}")
    val found = AuditScan.scan(root, Pattern)
    assert(found.contains(Factory), s"the factory's own builder site is not seen: $found")
    val elsewhere = found - Factory
    assert(elsewhere.isEmpty,
      "SparkSession builder sites outside GraftSession:\n  " +
        elsewhere.toSeq.sorted.map { case (f, n) => s"$f: $n" }.mkString("\n  ") +
        "\nGet the session from GraftSession.local(appName, cores) instead.")
  }

  test("the pattern counts real builder sites and skips comments") {
    def countOf(src: String) = AuditScan.countIn(src, Pattern)
    // split literals keep these fixtures from counting as sites of this file
    val b = "SparkSession." + "builder"
    assert(countOf(s"""val s = $b().master("local[4]")""") == 1)
    assert(countOf(s"val s = $b\n  .getOrCreate()") == 1)
    assert(countOf("val s = SparkSession\n  ." + "builder()\n  .getOrCreate()") == 1)
    assert(countOf("val s = new SparkSession." + "Builder()") == 1)
    assert(countOf(s"// $b is a process-wide singleton") == 0)
    assert(countOf(s"/** built like $b()\n  *   ." + "builder()\n  */") == 0)
    assert(countOf("""val s = GraftSession.local("graft-test", cores = 4)""") == 0)
  }

  // Per-session memo fields per file. Each one serves an artifact that
  // another query or call reuses within one pass; a memo that only a
  // repeat of the same call would hit makes a Bench rep a warm read.
  private val MemoFields = Map(
    "graft/queries/Dedup.scala" -> 3,
    "graft/operators/VectorIndex.scala" -> 5)

  // a field holding a memo, its constructor on the same or the next line,
  // or built by Dedup's frame-memo factory
  private val MemoField =
    "\\bval\\s+\\w+\\s*(?::[^=\\n]*)?=\\s*(?:new\\s+BoundedMemo\\b|newFrameMemo\\b)".r

  test("BoundedMemo fields are pinned per file") {
    val found = AuditScan.scan(Paths.get("src/main/scala"), MemoField, joined = true)
    val drift = AuditScan.drift(found, MemoFields)
    assert(drift.isEmpty,
      "BoundedMemo fields drifted from the pins:\n  " + drift.mkString("\n  ") +
        "\nPin a new memo only with the query or call that reuses it within one pass.")
    def countOf(src: String) = AuditScan.countIn(src, MemoField, joined = true)
    assert(countOf("private val quantMemo = new BoundedMemo[(String, Int), Seq[Int]](8)") == 1)
    assert(countOf("private val clusterMemo =\n    new BoundedMemo[(Int, String), Int](8)") == 1)
    assert(countOf("private val sigMemo = newFrameMemo") == 1)
    assert(countOf("private def newFrameMemo: BoundedMemo[Int, Int] =\n  new BoundedMemo(8)") == 0)
    assert(countOf("/** the memo was `val x = new BoundedMemo(8)` */") == 0)
  }

  test("the test session runs under GraftSession's conf list at cores = 4") {
    val spark = TestSpark.spark
    // the local posture differs from a cluster's only in listing input
    // files on the driver, so the suite lists files as Bench, Verify and
    // the benchmark harness do
    assert(GraftSession.sqlConfs(4, local = true).diff(GraftSession.sqlConfs(4, local = false)) ===
      Seq("spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString))
    val drift = GraftSession.sqlConfs(4, local = true).collect {
      case (k, v) if !spark.conf.getOption(k).contains(v) =>
        s"$k: list $v, session ${spark.conf.getOption(k).getOrElse("<unset>")}"
    }
    assert(drift.isEmpty, drift.mkString("posture drift:\n  ", "\n  ", ""))
  }
}
