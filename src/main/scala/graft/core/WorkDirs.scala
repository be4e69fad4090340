package graft.core

import java.nio.file.Paths

/** The one place work directories are named: fixtures are read from, and
  * scratch zones, indexes, warehouses and reports written under, the
  * checkout the JVM runs in (sbt forks run and test JVMs at its root), so
  * two checkouts never touch each other's files. Absolute, so the oracle
  * SQL that embeds them reads the same files from any working directory.
  */
object WorkDirs {
  private val checkout = Paths.get("").toAbsolutePath.normalize
  val Target: String = checkout.resolve("target").toString

  def target(rel: String): String = s"$Target/$rel"
  def fixture(rel: String): String = s"$checkout/fixtures/$rel"
  /** The generated star-schema tables at a scale factor (TESTDATA.md). */
  def testData(sf: String): String = s"/root/testdata/sf$sf"
}
