package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for one work root and no environment knobs in the library:
  *
  *   - Library packages read no environment variable or system property.
  *     A tuning value is a constant or an API argument, so every run of
  *     the same code plans the same way; only the harness mains (Bench,
  *     Verify, ScaleStress, StreamScaleStress) read their own
  *     environment, and the number of reads in each is pinned, so a new
  *     harness knob is a visible decision rather than a silent one.
  *   - Work directories are named only by [[graft.core.WorkDirs]]: no
  *     absolute machine path and no hand-built `target` path elsewhere in
  *     `src/main` or `src/test`, so a second checkout never reads or
  *     deletes the first one's files.
  *
  * Every pinned count outside the harness mains is zero. Counting follows
  * [[AuditScan]]'s rule, comments excluded.
  */
class ConfigAuditSpec extends AnyFunSuite {

  private val WorkDirsFile = "main/scala/graft/core/WorkDirs.scala"

  private val LibraryPackages =
    Seq("core", "functions", "operators", "pipeline", "plans", "queries", "streaming")

  // Environment reads per top-level harness file: Bench's sf dir, cores,
  // query filter, verbose flag and retry switch; Verify's cores and query
  // filter; each scale harness's sf dir, scale list and query filter.
  // Every other top-level file reads none.
  private val HarnessEnvReads = Map(
    "Bench.scala" -> 5,
    "Verify.scala" -> 2,
    "ScaleStress.scala" -> 3,
    "StreamScaleStress.scala" -> 3)

  private val EnvRead =
    "\\bsys\\s*\\.\\s*(env|props)\\b|\\bSystem\\s*\\.\\s*(getenv|getProperty)\\b".r

  // split literals keep these patterns from counting as sites of this file
  private val MachinePath = ("\"/ro" + "ot/").r
  private val TargetPath = ("\"tar" + "get(/|\")").r

  private def src = {
    val root = Paths.get("src")
    assert(Files.isDirectory(root.resolve("main/scala")),
      s"expected to run from the repo root; src/main/scala not found under ${sys.props("user.dir")}")
    root
  }

  private def listing(found: Map[String, Int]): String =
    found.toSeq.sorted.map { case (f, n) => s"$f: $n" }.mkString("\n  ")

  test("library packages read no environment variable or system property") {
    val found = LibraryPackages.flatMap { p =>
      AuditScan.scan(src.resolve(s"main/scala/graft/$p"), EnvRead)
        .map { case (f, n) => s"graft/$p/$f" -> n }
    }.toMap
    assert(found.isEmpty,
      "environment reads in library code:\n  " + listing(found) +
        "\nMake the value a constant or an API argument; harness mains may read env.")
  }

  test("harness mains read only their pinned environment variables") {
    val found = AuditScan.scan(src.resolve("main/scala/graft"), EnvRead)
      .filter { case (f, _) => !f.contains('/') }
    val drift = AuditScan.drift(found, HarnessEnvReads)
    assert(drift.isEmpty,
      "environment reads in harness mains drifted from the pins:\n  " +
        drift.mkString("\n  ") +
        "\nMake a value nothing sets a constant; pin a read only if a run needs it.")
  }

  test("absolute machine paths are spelled only in WorkDirs") {
    val found = AuditScan.scan(src, MachinePath)
    val elsewhere = found - WorkDirsFile
    assert(elsewhere.isEmpty,
      "absolute machine paths outside WorkDirs:\n  " + listing(elsewhere) +
        "\nResolve the path through graft.core.WorkDirs instead.")
    assert(found.contains(WorkDirsFile), s"WorkDirs' own site is not seen: $found")
  }

  test("target paths are spelled only in WorkDirs") {
    val found = AuditScan.scan(src, TargetPath)
    val elsewhere = found - WorkDirsFile
    assert(elsewhere.isEmpty,
      "hand-built target paths outside WorkDirs:\n  " + listing(elsewhere) +
        "\nUse WorkDirs.target(rel) instead.")
    assert(found.contains(WorkDirsFile), s"WorkDirs' own site is not seen: $found")
  }

  test("the patterns count real sites and skip comments and look-alikes") {
    def env(s: String) = AuditScan.countIn(s, EnvRead)
    def machine(s: String) = AuditScan.countIn(s, MachinePath)
    def target(s: String) = AuditScan.countIn(s, TargetPath)
    val (e, g, p) = ("sys." + "env", "System." + "getenv", "sys." + "props")
    assert(env(s"""val n = $e.get("X").map(_.toInt).getOrElse(4)""") == 1)
    assert(env(s"""val n = $e.getOrElse("X", "4")""") == 1)
    assert(env(s"""val d = $g("X")""") == 1)
    assert(env(s"""val d = $p("user.dir")""") == 1)
    assert(env("val d = System.getProp" + "erty(\"user.dir\")") == 1)
    assert(env(s"// env-overridable via $e") == 0)
    assert(env(s"/** reads $g\n  * at class load\n  */") == 0)
    assert(env("val envelope = sysEnvelope.get") == 0)
    val root = "\"/ro" + "ot/"
    assert(machine(s"""val r = ${root}repo/fixtures/links.json"""") == 1)
    assert(machine(s"""val s = s${root}testdata/sf$$sf"""") == 1)
    assert(machine(s"/** reads ${root}repo/fixtures\" */") == 0)
    assert(machine("""val p = "file:/idx/root/ivf_index/"""") == 0)
    val t = "\"tar" + "get"
    assert(target(s"""val d = s$t/scale/x$$k"""") == 1)
    assert(target(s"""Paths.get($t", "scaling.json")""") == 1)
    assert(target(s"""col(${t}_key")""") == 0)
    assert(target(s"""// writes under $t/zorder/"""") == 0)
  }
}
