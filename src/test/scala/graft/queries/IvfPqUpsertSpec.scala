package graft.queries

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Tables
import graft.operators.VectorIndex

/** Contracts for [[VectorIndex.upsertIvfPqIndex]], the one writer that
  * maintains a persisted IVF+PQ index. For UPDATE batches (n17) an
  * upserted index must be indistinguishable from a frozen-quantizer
  * rebuild ([[VectorIndex.recodeIvfPqIndex]]) over the POST-update corpus
  * — which means a moved id leaves NO stale row in its old cell, a cell
  * emptied by the moves loses its partition directory, a guard-rejected
  * update deletes, a re-landed batch is content-idempotent. For INSERT
  * batches (n16's delta split onto its base index) the same frozen-rebuild
  * equivalence holds, a re-land is content-idempotent, and the write
  * touches ONLY the batch's cell partitions — proven byte-wise (untouched
  * partition fingerprints) and behaviorally (a poisoned foreign partition
  * never read). The `ledger/` artifact that makes the old-cell lookup
  * batch-bounded stays equal to the codes projection through build,
  * insert and update (self-healing when absent).
  */
class IvfPqUpsertSpec extends SparkTestBase {

  private lazy val SfDir = testData("0.001")

  private def norm(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  /** The post-upsert corpus (original rows with the demo batch's
    * replacing them) — what a frozen rebuild after the upsert would code;
    * the equivalence arm recodes it.
    */
  private def postUpsertCorpus(dir: String): org.apache.spark.sql.DataFrame =
    Tables(spark, dir).embeddings
      .filter(!Similarity.upsertPredicate)
      .select("vec_id", "embedding")
      .unionByName(Similarity.upsertBatch(spark, dir))

  /** Full codes content, engine-canonical (cell partition values read
    * back as long), order-insensitive.
    */
  private def codesRows(idx: String): Seq[Seq[Any]] = {
    val cols = col("vec_id") +: col("cell").cast("long").as("cell") +:
      (0 until VectorIndex.PqM).map(m => col(s"c$m"))
    spark.read.parquet(s"$idx/codes").select(cols: _*)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
  }

  /** The ledger as an id→cell map, asserting its per-id uniqueness (a
    * duplicate row means a maintenance write skipped the anti-join).
    */
  private def ledgerMap(idx: String): Map[Long, Long] = {
    val rows = spark.read.parquet(s"$idx/ledger")
      .select(col("vec_id"), col("cell").cast("long")).collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "ledger must hold exactly one row per vec_id")
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def codesProjection(idx: String): Map[Long, Long] =
    spark.read.parquet(s"$idx/codes")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("upsert-then-probe equals frozen-quantizer rebuild over the post-update corpus") {
    val idxU = scratch("ivfpq_upsert_eq_u")
    val idxR = scratch("ivfpq_upsert_eq_r")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idxU)
    val touched = VectorIndex.upsertIvfPqIndex(spark, idxU,
      Similarity.upsertBatch(spark, SfDir))
    assert(touched.nonEmpty, "the fixture batch must touch some cell")
    // frozen rebuild over the POST-update corpus: a fresh full-corpus
    // base gives the artifact its (frozen) quantizers, then the recode
    // replaces codes/ and ledger/ wholesale with a pure fresh coding of
    // (originals minus the split) ∪ (negated split)
    VectorIndex.buildIvfPqIndex(spark, SfDir, idxR)
    VectorIndex.recodeIvfPqIndex(spark, idxR,
      postUpsertCorpus(SfDir))
    val u = norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idxU, nprobe = 2))
    val r = norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idxR, nprobe = 2))
    assert(u.nonEmpty && u == r,
      "an upserted index must serve exactly what a frozen rebuild over the post-update corpus serves")
    assert(codesRows(idxU) == codesRows(idxR),
      "the artifacts themselves must hold identical code rows")
    assert(ledgerMap(idxU) == ledgerMap(idxR),
      "the ledgers must hold identical id→cell maps")
  }

  test("a moved id leaves no stale row; old partitions rewritten; ledger follows") {
    val idx = scratch("ivfpq_upsert_move")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val before = ledgerMap(idx)
    val countBefore = spark.read.parquet(s"$idx/codes").count()
    val batch = Similarity.upsertBatch(spark, SfDir)
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(batchIds.nonEmpty)
    val fpBefore = before.values.toSeq.distinct.sorted
      .map(c => c -> fsFingerprint(s"$idx/codes/cell=$c")).toMap
    VectorIndex.upsertIvfPqIndex(spark, idx, batch)
    val after = ledgerMap(idx)
    val moved = batchIds.filter(id =>
      before.get(id).exists(c => after.get(id).exists(_ != c)))
    assert(moved.nonEmpty,
      "the negated batch must move at least one id across cells")
    assert(spark.read.parquet(s"$idx/codes").count() == countBefore,
      "pure updates must preserve cardinality")
    // every batch id sits EXACTLY once in codes, in its post-upsert cell
    val placed = spark.read.parquet(s"$idx/codes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .filter(col("vec_id").isin(batchIds.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(placed.length == batchIds.size &&
      placed.map(_._1).distinct.length == placed.length,
      "a moved id must appear exactly once — no stale duplicate in its old cell")
    placed.foreach { case (id, c) =>
      assert(after(id) == c, s"ledger must track $id to its new cell") }
    // a moved id's OLD partition was actually rewritten (byte-level:
    // fingerprint changed, or the whole dir emptied away)
    moved.map(before).toSeq.distinct.foreach { c =>
      val dir = new File(s"$idx/codes/cell=$c")
      val fpNow = if (dir.exists()) fsFingerprint(dir.getPath) else Nil
      assert(fpNow != fpBefore(c),
        s"moved ids' old partition cell=$c must be rewritten or removed")
    }
  }

  test("a cell emptied by the upsert loses its partition directory") {
    val idx = scratch("ivfpq_upsert_empty")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val ledger = ledgerMap(idx)
    val cellDirs = new File(s"$idx/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(_.getName.stripPrefix("cell=").toLong)
    val c0 = cellDirs.min
    val victims = spark.read.parquet(s"$idx/codes/cell=$c0").select("vec_id")
    val vIds = victims.collect().map(_.getLong(0)).toSet
    assert(vIds.nonEmpty)
    // one DONOR embedding for every victim: a vector living in another
    // cell re-codes to that same cell under the frozen quantizer (that is
    // why it lives there), so the whole victim set deterministically
    // vacates c0 and lands in donorCell
    val donorId = ledger.collectFirst { case (id, c) if c != c0 => id }.get
    val donorCell = ledger(donorId)
    val batch = victims.crossJoin(
      Tables(spark, SfDir).embeddings
        .filter(col("vec_id") === donorId).select("embedding"))
    val touched = VectorIndex.upsertIvfPqIndex(spark, idx, batch)
    assert(touched.contains(c0) && touched.contains(donorCell))
    assert(!new File(s"$idx/codes/cell=$c0").exists(),
      "an emptied partition must be deleted, not left as a stale directory")
    val after = ledgerMap(idx)
    vIds.foreach(id => assert(after(id) == donorCell))
    val rows = spark.read.parquet(s"$idx/codes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .filter(col("vec_id").isin(vIds.toSeq: _*)).collect()
    assert(rows.length == vIds.size && rows.forall(_.getLong(1) == donorCell),
      "every victim must sit exactly once, in the donor's cell")
  }

  test("a guard-rejected update DELETES the stale row from codes and ledger") {
    val idx = scratch("ivfpq_upsert_guard")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val ledger = ledgerMap(idx)
    val victim = ledger.keys.max
    val oldCell = ledger(victim)
    import spark.implicits._
    // a zero vector carries no direction: the frozen rebuild over the
    // post-update corpus drops it (pqCorpus guard), so the upsert must too
    val batch = Seq((victim,
      Seq.fill(graft.functions.VectorLsh.Dim)(0.0f))).toDF("vec_id", "embedding")
    val touched = VectorIndex.upsertIvfPqIndex(spark, idx, batch)
    assert(touched == Seq(oldCell),
      "the delete's only touched cell is the victim's old one")
    assert(spark.read.parquet(s"$idx/codes")
      .filter(col("vec_id") === victim).count() == 0,
      "the stale row must be gone from codes")
    assert(!ledgerMap(idx).contains(victim),
      "the stale mapping must be gone from the ledger")
    // scope note: this pins the common case (the victim's bucket holds
    // other ids, so dynamic overwrite rewrites it). A delete batch
    // covering a bucket's ENTIRE id population would keep that bucket's
    // rows on disk — the documented, deliberate ledger/codes truncation
    // asymmetry (see VectorIndex.mergePartitions): a stale ledger row cannot
    // change an answer, only widen a later touched set.
  }

  test("re-landing the same upsert batch is content-idempotent") {
    val idx = scratch("ivfpq_upsert_idem")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    val batch = Similarity.upsertBatch(spark, SfDir)
    val t1 = VectorIndex.upsertIvfPqIndex(spark, idx, batch)
    val once = codesRows(idx)
    val onceLedger = ledgerMap(idx)
    val probeOnce = norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2))
    val t2 = VectorIndex.upsertIvfPqIndex(spark, idx, batch)
    assert(t2.toSet.subsetOf(t1.toSet),
      "a re-landed upsert touches at most the first landing's cells " +
        "(the ledger already points the ids at their new homes)")
    assert(codesRows(idx) == once && ledgerMap(idx) == onceLedger,
      "a re-landed batch must not change the artifact's content")
    assert(norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2)) == probeOnce)
  }

  test("build and append keep ledger == codes projection; a deleted ledger self-heals") {
    val idx = scratch("ivfpq_upsert_ledger")
    Similarity.buildIvfPqBaseIndex(spark, SfDir, idx)
    assert(new File(s"$idx/ledger").listFiles()
      .exists(_.getName.startsWith("b=")),
      "the ledger must be written hash-bucket-partitioned")
    assert(ledgerMap(idx) == codesProjection(idx),
      "build must write ledger == codes projection")
    VectorIndex.upsertIvfPqIndex(spark, idx,
      Similarity.appendDelta(spark, SfDir))
    assert(ledgerMap(idx) == codesProjection(idx),
      "an insert batch must keep ledger == codes projection")
    // self-heal (the documented crash repair): ledger removed, the next
    // upsert re-derives it from codes before its old-cell lookup
    graft.core.FsUtil.deleteRecursively(s"$idx/ledger")
    val touched = VectorIndex.upsertIvfPqIndex(spark, idx,
      Similarity.upsertBatch(spark, SfDir))
    assert(touched.nonEmpty && ledgerMap(idx) == codesProjection(idx),
      "after the self-heal and the upsert the invariant must hold again")
  }

  test("the registry twin serves the explicitly composed artifact") {
    val idx = scratch("ivfpq_upsert_twin")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)
    VectorIndex.upsertIvfPqIndex(spark, idx, Similarity.upsertBatch(spark, SfDir))
    val explicit = norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2))
    assert(norm(Similarity.ivfPqUpsertTopK(spark, SfDir)) == explicit)
  }

  // ---- insert batches: n16's delta split landed onto its base index

  private def unionCorpus =
    Tables(spark, SfDir).embeddings.select("vec_id", "embedding")

  test("insert batch: upsert-then-probe equals frozen-quantizer rebuild-then-probe") {
    val idxA = scratch("ivfpq_insert_eq_a")
    val idxR = scratch("ivfpq_insert_eq_r")
    Similarity.buildIvfPqBaseIndex(spark, SfDir, idxA)
    val touched = VectorIndex.upsertIvfPqIndex(spark, idxA,
      Similarity.appendDelta(spark, SfDir))
    assert(touched.nonEmpty, "the fixture delta must land somewhere")
    // frozen-quantizer REBUILD: the whole union corpus recoded under the
    // base index's (frozen) quantizers
    Similarity.buildIvfPqBaseIndex(spark, SfDir, idxR)
    VectorIndex.recodeIvfPqIndex(spark, idxR, unionCorpus)
    val a = norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idxA, nprobe = 2))
    val r = norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idxR, nprobe = 2))
    assert(a.nonEmpty && a == r,
      "a maintained index must serve exactly what a frozen-quantizer rebuild serves")
    assert(codesRows(idxA) == codesRows(idxR) && ledgerMap(idxA) == ledgerMap(idxR),
      "and hold identical code rows and ledger")
  }

  test("insert batch: re-landing the same batch is content-idempotent") {
    val idx = scratch("ivfpq_insert_idem")
    Similarity.buildIvfPqBaseIndex(spark, SfDir, idx)
    val delta = Similarity.appendDelta(spark, SfDir)
    val t1 = VectorIndex.upsertIvfPqIndex(spark, idx, delta)
    val once = norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2))
    val codesOnce = spark.read.parquet(s"$idx/codes").count()
    val t2 = VectorIndex.upsertIvfPqIndex(spark, idx, delta)
    assert(t2 == t1, "a redelivered batch must touch the same cells")
    assert(spark.read.parquet(s"$idx/codes").count() == codesOnce,
      "a redelivered batch must not duplicate any row (upsert semantics)")
    assert(norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2)) == once)
  }

  test("insert batch: one vector rewrites exactly its cell partition") {
    val idx = scratch("ivfpq_insert_one")
    Similarity.buildIvfPqBaseIndex(spark, SfDir, idx)
    val cellDirs = new File(s"$idx/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(_.getName).toSeq
    assert(cellDirs.size > 1, "fixture must spread the base over >1 cell")
    val before = cellDirs.map(d => d -> fsFingerprint(s"$idx/codes/$d")).toMap
    val one = Similarity.appendDelta(spark, SfDir).limit(1)
    val touched = VectorIndex.upsertIvfPqIndex(spark, idx, one)
    assert(touched.size == 1, s"one vector must touch one cell, got $touched")
    val touchedDir = s"cell=${touched.head}"
    cellDirs.filterNot(_ == touchedDir).foreach { d =>
      assert(fsFingerprint(s"$idx/codes/$d") == before(d),
        s"untouched partition $d was rewritten by the insert")
    }
    assert(fsFingerprint(s"$idx/codes/$touchedDir") != before.get(touchedDir).orNull,
      "the touched partition must actually change")
  }

  test("insert batch: a poisoned foreign partition is never read") {
    val idx = scratch("ivfpq_insert_poison")
    Similarity.buildIvfPqBaseIndex(spark, SfDir, idx)
    val poison = Paths.get(s"$idx/codes/cell=999/garbage.parquet")
    Files.createDirectories(poison.getParent)
    Files.write(poison, "this is not a parquet file".getBytes("UTF-8"))
    intercept[Throwable] {
      spark.read.parquet(s"$idx/codes").count()
    }
    val touched = VectorIndex.upsertIvfPqIndex(spark, idx,
      Similarity.appendDelta(spark, SfDir))
    assert(touched.nonEmpty && !touched.contains(999L))
    // the poison survives the insert untouched — dynamic overwrite swapped
    // only the delta's partitions
    assert(Files.exists(poison), "the foreign partition must be left alone")
  }

  test("insert batch: the n16 registry twin serves the explicitly composed artifact") {
    val idx = scratch("ivfpq_insert_twin")
    Similarity.buildIvfPqBaseIndex(spark, SfDir, idx)
    VectorIndex.upsertIvfPqIndex(spark, idx, Similarity.appendDelta(spark, SfDir))
    val explicit = norm(VectorIndex.probeIvfPqIndex(spark, SfDir, idx, nprobe = 2))
    assert(norm(Similarity.ivfPqAppendTopK(spark, SfDir)) == explicit)
  }

  // ---- the registry twins compose their index on every call, so a
  // probed cell partition deleted between calls never reaches an answer
  // (a memo that trusts codes/ because it EXISTS would serve the damage)

  private def answerSurvivesDeletedCell(family: String,
      twin: () => org.apache.spark.sql.DataFrame): Unit = {
    val first = norm(twin())
    val cell = first.head(3) // (query_id, rank, neighbor_id, cell, adist)
    val idx = Similarity.indexDirFor(spark, family, SfDir)
    val cellDir = Paths.get(s"$idx/codes/cell=$cell")
    assert(Files.isDirectory(cellDir), s"probed cell dir $cellDir is missing")
    graft.core.FsUtil.deleteRecursively(cellDir.toString)
    assert(norm(twin()) == first)
  }

  test("the n16 twin recomposes per call: a deleted probed cell leaves its answer intact") {
    answerSurvivesDeletedCell("ivfpq_append_index",
      () => Similarity.ivfPqAppendTopK(spark, SfDir))
  }

  test("the n17 twin recomposes per call: a deleted probed cell leaves its answer intact") {
    answerSurvivesDeletedCell("ivfpq_upsert_index",
      () => Similarity.ivfPqUpsertTopK(spark, SfDir))
  }
}
