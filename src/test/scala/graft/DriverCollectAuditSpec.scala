package graft

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for the driver-materialization audit (SCALING.md
  * "driver-materialization audit" table) — the broadcast audit's sibling:
  * a `.collect()`/`.first()` in a product path is legal iff the
  * materialized frame is bounded by CONTRACT (config-, query-, or
  * request-sized) or is per-run METADATA (groups, shards, partition
  * keys) — never corpus-sized. Counts per file are pinned so a new
  * driver materialization cannot land without a recorded boundedness
  * rationale (the r14 q5 lesson: prose-scoped sweeps miss sites;
  * enumerations with a count pin do not).
  *
  * r16 (advice + mandate 4): the pattern set now also covers
  * `.head(`, `collectAsMap` and `.take(` — the equivalent
  * materialization APIs a new site could have reached for without
  * tripping the r15 set. `.take(` deliberately also matches
  * Scala-collection takes (a text audit can't see receiver types);
  * today's only such site is Bench.scala's slowest-20 list, pinned
  * below so even a collection-take drifts loudly rather than silently.
  * Counting rule shared with BroadcastAuditSpec via [[AuditScan]].
  */
class DriverCollectAuditSpec extends AnyFunSuite {

  private val SrcRoot = "src/main/scala"

  private val Patterns = Seq(
    ".collect()", ".first()", ".toLocalIterator", "collectAsList",
    ".head(", "collectAsMap", ".take(")

  private val Pattern: Regex =
    Patterns.map(Regex.quote).mkString("|").r

  // The audited state: per-file counts at the last audit (SCALING.md r15
  // table + r16 addendum). A mismatch means a site was added, removed,
  // or moved WITHOUT updating the audit table.
  private val Audited = Map(
    "graft/Bench.scala" -> 1,
    "graft/StreamScaleStress.scala" -> 3,
    "graft/pipeline/CleanJob.scala" -> 1,
    "graft/operators/ConnectedComponents.scala" -> 1,
    "graft/operators/VectorIndex.scala" -> 10,
    "graft/pipeline/ExportJob.scala" -> 2,
    "graft/queries/Dedup.scala" -> 1,
    "graft/queries/Events.scala" -> 1,
    "graft/queries/Layout.scala" -> 1,
    "graft/queries/Sampling.scala" -> 2,
    "graft/queries/Sketches.scala" -> 5,
    "graft/queries/TextAnalysis.scala" -> 1)

  test("every collect/first site is enumerated in SCALING.md's driver-materialization audit") {
    val root = Paths.get(SrcRoot)
    assert(Files.isDirectory(root),
      s"expected to run from the repo root; $SrcRoot not found under ${sys.props("user.dir")}")
    val drift = AuditScan.drift(AuditScan.scan(root, Pattern), Audited)
    assert(drift.isEmpty,
      "driver-materialization sites drifted from the SCALING.md audit:\n  " +
        drift.mkString("\n  ") +
        "\nFor each new site: add a row to SCALING.md's " +
        "driver-materialization audit table stating what is collected " +
        "and why its size is bounded by contract or metadata (never by " +
        "the corpus), then update Audited here. For removed/moved " +
        "sites: update both the same way.")
  }
}
