package graft.queries

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.core.WorkDirs
import graft.operators.VectorIndex

/** Contracts for the persisted IVF+PQ index (n13), mirroring IvfIndexSpec:
  * the disk probe must reproduce n12's from-scratch result exactly, run
  * standalone against the artifacts, and actually PRUNE the codes/
  * partitions — proven behaviorally with a poisoned unprobed cell.
  */
class IvfPqIndexSpec extends SparkTestBase {

  private lazy val SfDir = testData("0.001")

  private def norm(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("probe over the persisted index equals from-scratch IVF+PQ, twice") {
    val idx = scratch("ivfpq_idx_eq")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val want = norm(Similarity.ivfPqTopK(spark, SfDir))
    assert(norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2)) == want)
    assert(norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2)) == want)
  }

  test("the probed-cells predicate partition-prunes the codes table") {
    val idx = scratch("ivfpq_idx_plan")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val plan = VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2)
      .queryExecution.executedPlan.toString
    // a NON-EMPTY filter list on the cell column — "PartitionFilters: ["
    // alone also matches an empty list (r18 advice)
    assert(plan.contains("PartitionFilters: [cell#"), plan)
  }

  test("pruning is real: a poisoned unprobed codes partition never fails a probe") {
    val idx = scratch("ivfpq_idx_poison")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val poison = Paths.get(s"$idx/codes/cell=999/garbage.parquet")
    Files.createDirectories(poison.getParent)
    Files.write(poison, "this is not a parquet file".getBytes("UTF-8"))
    intercept[Throwable] {
      spark.read.parquet(s"$idx/codes").count()
    }
    val got = VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2)
    assert(norm(got) == norm(Similarity.ivfPqTopK(spark, SfDir)))
  }

  test("memo hit on scheme-qualified (file:) artifacts: repeat build never rewrites") {
    // the IvfIndexSpec scheme case applied to the PQ index: the freshness
    // probe must resolve through the indexDir's own FileSystem, so a
    // file:-qualified (or remote) path still memo-hits instead of
    // silently rebuilding centroids + codebooks + codes on every request
    val idx = "file:" + scratch("ivfpq_idx_scheme")
    val v1 = VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val f1 = fsFingerprint(idx)
    assert(f1.nonEmpty, "build wrote no artifacts under the file: indexDir")
    val v2 = VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    assert(v2 eq v1, "second build must be a memo hit (same instance), not a rebuild")
    assert(fsFingerprint(idx) == f1, "memo hit must not rewrite any artifact file")
    assert(norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2)) ==
      norm(Similarity.ivfPqTopK(spark, SfDir)))
  }

  test("a probed codes partition deleted after the build is rebuilt, not served damaged") {
    // the build memo must notice a damaged artifact, not only a missing
    // one: serving it would drop the deleted cell's neighbors from every
    // later call in the session
    val want = norm(Similarity.ivfPqIndexTopK(spark, SfDir))
    val cell = want.head(3) // the neighbor's cell column
    val idx = Similarity.indexDirFor(spark, "ivfpq_index", SfDir)
    val part = s"$idx/codes/cell=$cell"
    assert(new File(part).isDirectory, s"probed partition $part must exist")
    graft.core.FsUtil.deleteRecursively(part)
    assert(norm(Similarity.ivfPqIndexTopK(spark, SfDir)) == want,
      "the memo served the index with a probed partition missing")
  }

  test("n15: rescore over the persisted probe equals from-scratch n14; pruned, no shuffle join") {
    val idx = scratch("ivfpq_idx_rescore")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val df = VectorIndex.rescoreProbedIndex(spark, SfDir, idx)
    // plan read BEFORE collect, uncached: the probed-cells predicate must
    // still partition-prune the codes table with the rescore stage on top,
    // and every join in both stages rides a broadcast
    val plan = df.queryExecution.executedPlan.toString
    // non-empty filter content, not just the list header (r18 advice)
    assert(plan.contains("PartitionFilters: [cell#"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "the rescore composition must not shuffle any join side")
    assert(norm(df) == norm(Similarity.ivfPqRescoreTopK(spark, SfDir)),
      "the serving composition must reproduce the from-scratch n14 exactly")
  }

  test("n15 pruning is real: a poisoned unprobed codes partition never fails the rescore") {
    val idx = scratch("ivfpq_idx_rescore_poison")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val poison = Paths.get(s"$idx/codes/cell=999/garbage.parquet")
    Files.createDirectories(poison.getParent)
    Files.write(poison, "this is not a parquet file".getBytes("UTF-8"))
    intercept[Throwable] {
      spark.read.parquet(s"$idx/codes").count()
    }
    val got = VectorIndex.rescoreProbedIndex(spark, SfDir, idx)
    assert(norm(got) == norm(Similarity.ivfPqRescoreTopK(spark, SfDir)))
  }

  test("the registry twins' derived index dirs follow graft.index.root") {
    // the derived dirs are harness placements: the checkout's work root
    // by default, one conf away from any scheme-qualified root
    assert(Similarity.indexDirFor(spark, "ivfpq_index", SfDir)
      .startsWith(WorkDirs.Target + "/"))
    assert(Similarity.indexDirFor(spark, "ivf_index", SfDir)
      .startsWith(WorkDirs.Target + "/"))
    spark.conf.set("graft.index.root", "file:/idx/root")
    try {
      assert(Similarity.indexDirFor(spark, "ivfpq_index", SfDir)
        .startsWith("file:/idx/root/ivfpq_index/"))
      assert(Similarity.indexDirFor(spark, "ivf_index", SfDir)
        .startsWith("file:/idx/root/ivf_index/"))
    } finally spark.conf.unset("graft.index.root")
  }

  test("graft.index.root end-to-end: the registry twin builds and probes under a file:-scheme root") {
    // the string test above pins the DERIVATION; this pins the whole path
    // through writers, freshness probes (FsUtil.filesSig) and the
    // partition-pruned read resolving via the root's OWN FileSystem —
    // the last untested edge of the r16→r18 scheme-awareness arc
    val root = "file:" + scratch("idx_root_scheme_e2e")
    spark.conf.set("graft.index.root", root)
    try {
      val got = norm(Similarity.ivfPqIndexTopK(spark, SfDir))
      assert(got.nonEmpty && got == norm(Similarity.ivfPqTopK(spark, SfDir)),
        "the scheme-rooted twin must reproduce the from-scratch n12")
      assert(fsFingerprint(s"$root/ivfpq_index").nonEmpty,
        "the artifacts must land under the scheme-qualified root")
      // and the n16 twin's insert path end-to-end under the same root
      assert(norm(Similarity.ivfPqAppendTopK(spark, SfDir)).nonEmpty)
      assert(fsFingerprint(s"$root/ivfpq_append_index").nonEmpty)
      // and the n17 twin's upsert path (r20): its ledger bucket probes,
      // emptied-dir deletes and ledger writes are exactly the
      // scheme-sensitive class this spec exists for
      assert(norm(Similarity.ivfPqUpsertTopK(spark, SfDir)).nonEmpty)
      assert(fsFingerprint(s"$root/ivfpq_upsert_index/").nonEmpty)
      assert(fsFingerprint(s"$root/ivfpq_upsert_index/")
        .exists(_._1.contains("/ledger/b=")),
        "the upsert twin's ledger must land under the scheme-qualified root")
    } finally spark.conf.unset("graft.index.root")
  }

  test("distinct corpora whose mangles collide derive distinct index dirs") {
    // `data/x_y` and `data_x/y` mangle to one readable name; the raw-dir
    // hash suffix keeps their artifacts apart so alternating registry
    // twins stay build-once/probe-many instead of rebuild-per-alternation
    for (family <- Seq("ivf_index", "ivfpq_index", "ivfpq_append_index",
        "ivfpq_upsert_index"))
      assert(Similarity.indexDirFor(spark, family, "data/x_y") !=
        Similarity.indexDirFor(spark, family, "data_x/y"))
  }

  test("index layout: hive-partitioned codes, metadata-scale quantizer tables") {
    val idx = scratch("ivfpq_idx_layout")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val cellDirs = new File(s"$idx/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "codes must be written as cell=N partitions")
    val cents = spark.read.parquet(s"$idx/centroids.parquet")
    assert(cents.count() == 8 && cents.columns.sorted.toSeq == Seq("cid", "cnorm", "cv"))
    val books = spark.read.parquet(s"$idx/codebooks.parquet")
    assert(books.count() == VectorIndex.PqM.toLong * VectorIndex.PqK)
    assert(books.columns.sorted.toSeq == Seq("cid", "cv", "m"))
    // the codes table carries ONLY ids and code bytes — never raw vectors
    val codes = spark.read.parquet(s"$idx/codes")
    assert(codes.columns.sorted.toSeq ==
      ("cell" +: "vec_id" +: (0 until VectorIndex.PqM).map(m => s"c$m")).sorted)
  }
}
