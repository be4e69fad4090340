package graft.queries

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.operators.VectorIndex

/** Contracts for the persisted IVF index (n7): the probe must reproduce the
  * from-scratch IVF exactly, run standalone against the artifacts (no
  * recompute), and actually PRUNE — unprobed cell directories are never
  * opened, proven behaviorally with a poisoned partition.
  */
class IvfIndexSpec extends SparkTestBase {

  private lazy val SfDir = testData("0.001")

  private def norm(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("probe over the persisted index equals the from-scratch IVF, twice, without rebuilding") {
    val idx = scratch("ivf_idx_eq")
    VectorIndex.buildIvfIndex(spark, SfDir, idx)
    val want = norm(Similarity.ivfTopK(spark, SfDir))
    assert(norm(VectorIndex.probeIvfIndex(spark, SfDir, idx, nprobe = 2)) == want)
    // second probe: same artifacts, no rebuild — the standalone contract
    assert(norm(VectorIndex.probeIvfIndex(spark, SfDir, idx, nprobe = 2)) == want)
  }

  test("the probed-cells predicate reaches the file index as a partition filter") {
    val idx = scratch("ivf_idx_plan")
    VectorIndex.buildIvfIndex(spark, SfDir, idx)
    val plan = VectorIndex.probeIvfIndex(spark, SfDir, idx, nprobe = 2)
      .queryExecution.executedPlan.toString
    // non-empty filter content on the cell column — "PartitionFilters: ["
    // alone also matches an empty list (r18 advice)
    assert(plan.contains("PartitionFilters: [cell#"), plan)
  }

  test("pruning is real: a poisoned unprobed cell directory never fails a probe") {
    val idx = scratch("ivf_idx_poison")
    VectorIndex.buildIvfIndex(spark, SfDir, idx)
    // cell id 999 can never be probed (no such centroid); a garbage file
    // there kills any reader that opens it
    val poison = Paths.get(s"$idx/cells/cell=999/garbage.parquet")
    Files.createDirectories(poison.getParent)
    Files.write(poison, "this is not a parquet file".getBytes("UTF-8"))
    // an unpruned full scan of the cells dir must hit the poison...
    intercept[Throwable] {
      spark.read.parquet(s"$idx/cells").count()
    }
    // ...while the pruned probe never opens it
    val got = VectorIndex.probeIvfIndex(spark, SfDir, idx, nprobe = 2)
    assert(norm(got) == norm(Similarity.ivfTopK(spark, SfDir)))
  }

  test("a file: indexDir builds and probes to ivfTopK's answer") {
    // a scheme-qualified indexDir (file: here, any remote FS in
    // production): the writers and the pruned read must resolve through
    // the path's OWN FileSystem, never scheme-blind java.nio
    val idx = "file:" + scratch("ivf_idx_scheme")
    VectorIndex.buildIvfIndex(spark, SfDir, idx)
    assert(fsFingerprint(idx).nonEmpty, "build wrote no artifacts under the file: indexDir")
    assert(norm(VectorIndex.probeIvfIndex(spark, SfDir, idx, nprobe = 2)) ==
      norm(Similarity.ivfTopK(spark, SfDir)))
  }

  test("the n7 twin rebuilds per call: a deleted probed cell leaves its answer intact") {
    // the twin builds on every call, so damage between calls never
    // reaches an answer (a memo that trusts cells/ because it EXISTS
    // would serve the damaged artifact)
    val first = norm(Similarity.ivfIndexTopK(spark, SfDir))
    val cell = first.head(3) // (query_id, rank, neighbor_id, cell, cos)
    val idx = Similarity.indexDirFor(spark, "ivf_index", SfDir)
    val cellDir = Paths.get(s"$idx/cells/cell=$cell")
    assert(Files.isDirectory(cellDir), s"probed cell dir $cellDir is missing")
    graft.core.FsUtil.deleteRecursively(cellDir.toString)
    assert(norm(Similarity.ivfIndexTopK(spark, SfDir)) == first)
  }

  test("index layout: hive-partitioned cells plus a metadata-scale centroid table") {
    val idx = scratch("ivf_idx_layout")
    VectorIndex.buildIvfIndex(spark, SfDir, idx)
    val cellDirs = new File(s"$idx/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "cells must be written as cell=N partitions")
    val cents = spark.read.parquet(s"$idx/centroids.parquet")
    assert(cents.count() == 8 && cents.columns.sorted.toSeq == Seq("cid", "cnorm", "cv"))
  }
}
