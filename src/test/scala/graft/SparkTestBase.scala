package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, WorkDirs}

/** The one session the whole test run shares, built by the product's
  * only session factory ([[graft.core.GraftSession.local]]) with the same
  * posture Bench and Verify run under, so every suite plans the way the
  * timed and oracle-checked queries do. Its warehouse and every suite's
  * scratch dir live under the running checkout's work root
  * ([[graft.core.WorkDirs]]).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test", cores = 4)
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** The driver-generated fixture root (TESTDATA.md) at a scale factor —
    * specs name fixtures through this so a relocation is one edit here,
    * not a sweep over hardcoded paths.
    */
  def testData(sf: String): String = WorkDirs.testData(sf)
  /** Unique scratch dir per suite under this checkout's work root. */
  def scratch(name: String): String = {
    val dir = WorkDirs.target(s"test-scratch/$name")
    graft.core.FsUtil.deleteRecursively(dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    dir
  }

  /** Recursive (path, length, mtime) fingerprint of every file under
    * `dir`, listed through the path's OWN Hadoop FileSystem (so it works
    * on scheme-qualified dirs) — the memo-hit proofs in the index specs
    * assert this is bit-unchanged across a repeat build.
    */
  def fsFingerprint(dir: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    val b = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    b.result().sortBy(_._1)
  }
}
