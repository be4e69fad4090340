package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.matching.Regex

/** Shared counting rule for the SCALING.md audit tripwires
  * (BroadcastAuditSpec, DriverCollectAuditSpec) — one implementation so
  * the two specs and the tables' header text can never disagree on what
  * a "non-comment site" is.
  *
  * The rule, exactly as SCALING.md's audit-table headers quote it:
  *
  *   - Lines whose trimmed text starts with `//` or `*` yield 0.
  *   - Multi-line block comments whose OPENER starts a line (scaladoc and
  *     conventional block comments — trimmed line starts with slash-star
  *     and no star-slash closes it on the same line) are tracked across
  *     lines: interior lines yield 0 whatever their prefix, and the
  *     closing line counts only the text after the star-slash. (r15's
  *     rule was line-anchored, so an interior line not prefixed with `*`
  *     was wrongly counted; the r16 advice fix.)
  *   - ACCEPTED LIMITS, both conservative (over-count, never under-count):
  *     a MID-LINE slash-star opening a multi-line comment is NOT tracked —
  *     a real lexer would have to understand string literals, and this
  *     codebase's parquet glob strings contain slash-star, so a 30-line
  *     audit rule must not try; and a trailing same-line `//` comment is
  *     counted as code. Either way a site never hides.
  */
object AuditScan {

  /** Code-only text of each line under the rule above. */
  def codeLines(p: Path): Seq[String] = {
    var inBlock = false
    Files.readAllLines(p).asScala.toSeq.map { line =>
      val s = line.trim
      if (inBlock) {
        val close = line.indexOf("*/")
        if (close < 0) ""
        else { inBlock = false; line.substring(close + 2) }
      } else if (s.startsWith("//") || s.startsWith("*")) {
        ""
      } else if (s.startsWith("/*")) {
        val open = line.indexOf("/*")
        val close = line.indexOf("*/", open + 2)
        if (close < 0) { inBlock = true; "" }
        else line.substring(close + 2)
      } else line
    }
  }

  /** Pattern occurrences in code lines: per line, or with `joined` over
    * the lines joined by newlines, so a pattern may span a line break.
    */
  private def count(lines: Seq[String], pattern: Regex, joined: Boolean): Int =
    if (joined) pattern.findAllIn(lines.mkString("\n")).size
    else lines.map(l => pattern.findAllIn(l).size).sum

  /** Pattern occurrences in source TEXT under the same rule (the specs'
    * fixtures for the rule and the patterns).
    */
  def countIn(src: String, pattern: Regex, joined: Boolean = false): Int = {
    val f = Files.createTempFile("auditscan", ".scala")
    try {
      Files.write(f, src.getBytes("UTF-8"))
      count(codeLines(f), pattern, joined)
    } finally Files.delete(f)
  }

  /** Per-file pattern-occurrence counts over [[codeLines]] for every
    * `.scala` under `root`, dropping zero-count files. Paths are
    * root-relative strings, matching the specs' Audited maps.
    */
  def scan(root: Path, pattern: Regex, joined: Boolean = false): Map[String, Int] =
    Using.resource(Files.walk(root)) { walk =>
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> count(codeLines(p), pattern, joined))
        .filter(_._2 > 0)
        .toMap
    }

  /** `file:line` of every pattern match in the RAW text of each `.scala`
    * under `root`, comments included — for rules about the comments
    * themselves. The line is the one where the match ends; paths are
    * root-relative and the list is sorted.
    */
  def rawSites(root: Path, pattern: Regex): Seq[String] =
    Using.resource(Files.walk(root)) { walk =>
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap { p =>
          val text = new String(Files.readAllBytes(p), "UTF-8")
          pattern.findAllMatchIn(text).map(m =>
            s"${root.relativize(p)}:${text.substring(0, m.end).count(_ == '\n') + 1}")
        }
        .toSeq.sorted
    }

  /** Audited-vs-found drift lines (empty = in sync). */
  def drift(found: Map[String, Int], audited: Map[String, Int]): Seq[String] =
    (found.keySet ++ audited.keySet).toSeq.sorted.flatMap { f =>
      (found.getOrElse(f, 0), audited.getOrElse(f, 0)) match {
        case (a, b) if a == b => None
        case (a, b) => Some(s"$f: $a site(s) in source vs $b audited")
      }
    }
}
