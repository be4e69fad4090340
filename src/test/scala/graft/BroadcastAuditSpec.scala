package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for the broadcast-site audit (SCALING.md "broadcast-site
  * audit" table): every `broadcast(` in non-test source must carry a row
  * there stating why the broadcast side is bounded by CONTRACT or
  * CONSTANT — never by the corpus' scale factor (a forced broadcast of an
  * SF-scaling frame is the abort-at-100TB class the r14 q5 escape
  * proved a prose-scoped sweep can miss; the r15 count pin then
  * immediately caught a site the r14 ENUMERATION itself had missed,
  * Relational.scala:381).
  *
  * The pin is the per-file count of word-boundary `broadcast(` calls on
  * code lines under [[AuditScan]]'s counting rule (shared with
  * DriverCollectAuditSpec and quoted by the tables' headers — block
  * comments tracked, `rebroadcast(`-style identifiers excluded by the
  * `\b`, accepted limits documented there). Adding/removing a site fails
  * here with instructions, making the audit table and the source
  * impossible to drift apart silently. Renames and file moves show up as
  * a changed file list, which is also audit-worthy.
  */
class BroadcastAuditSpec extends AnyFunSuite {

  private val SrcRoot = "src/main/scala"

  private val Pattern = "\\bbroadcast\\(".r

  // The audited state: per-file code-line `broadcast(` counts at the
  // last audit (SCALING.md r14 table + r15 addendum). A mismatch means a
  // site was added, removed, or moved WITHOUT updating the audit table.
  private val Audited = Map(
    "graft/ScaleStress.scala" -> 3,
    "graft/StreamScaleStress.scala" -> 2,
    "graft/operators/Rollups.scala" -> 2,
    "graft/operators/TextDedup.scala" -> 11,
    "graft/operators/VectorIndex.scala" -> 6,
    "graft/operators/VectorSearch.scala" -> 6,
    "graft/pipeline/CropJob.scala" -> 1,
    "graft/pipeline/FetchJob.scala" -> 1,
    "graft/queries/Dedup.scala" -> 2,
    "graft/queries/EventStreaming.scala" -> 4,
    "graft/queries/Relational.scala" -> 9,
    "graft/queries/Sampling.scala" -> 1,
    "graft/queries/Similarity.scala" -> 4,
    "graft/queries/Sketches.scala" -> 2,
    "graft/queries/TextAnalysis.scala" -> 5)

  test("every broadcast( site is enumerated in SCALING.md's audit table") {
    val root = Paths.get(SrcRoot)
    assert(Files.isDirectory(root),
      s"expected to run from the repo root; $SrcRoot not found under ${sys.props("user.dir")}")
    val drift = AuditScan.drift(AuditScan.scan(root, Pattern), Audited)
    assert(drift.isEmpty,
      "broadcast( sites drifted from the SCALING.md audit:\n  " +
        drift.mkString("\n  ") +
        "\nFor each new site: add a row to SCALING.md's broadcast-site " +
        "audit table with the side's boundedness rationale (bounded by " +
        "CONTRACT or CONSTANT, never by SF), then update Audited here. " +
        "For removed/moved sites: update both the same way.")
  }
}
