package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Tables
import graft.operators.VectorIndex

/** MODEL-BASED sequence test for the maintenance family: a chain of four
  * interleaved upsert batches — cross-cell moves, deletes, move-backs,
  * re-inserts-after-delete, with deliberate overlap between the classes —
  * applied (a) to the real artifact through [[VectorIndex.upsertIvfPqIndex]]
  * and (b) to a plain DataFrame MODEL whose upsert is three lines
  * (anti-join ∪ batch). After the chain, the artifact must equal a frozen
  * recode of the model corpus — codes AND ledger. The single-step specs
  * (IvfPqUpsertSpec) pin each transition in isolation; this pins their
  * COMPOSITION, where the bugs the single steps cannot see live: a ledger
  * row left stale by batch N sends batch N+2's anti-join to the wrong
  * partition, an id deleted then re-inserted must take the no-old-cell
  * insert path, a move-back must find the FIRST move's destination (not
  * the original home) as its old cell.
  */
class IvfPqUpsertSequenceSpec extends SparkTestBase {

  private lazy val SfDir = testData("0.001")

  private def codesRows(idx: String): Seq[Seq[Any]] = {
    val cols = col("vec_id") +: col("cell").cast("long").as("cell") +:
      (0 until VectorIndex.PqM).map(m => col(s"c$m"))
    spark.read.parquet(s"$idx/codes").select(cols: _*)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
  }

  private def ledgerRows(idx: String): Seq[(Long, Long)] =
    spark.read.parquet(s"$idx/ledger")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** The model's upsert: replace-or-insert every batch id, three lines.
    * Rows the index's finiteness guard rejects stay IN the model corpus —
    * the reference recode applies the same guard, so the model stays
    * guard-agnostic and the equivalence still must hold.
    */
  private def modelUpsert(corpus: DataFrame, batch: DataFrame): DataFrame =
    corpus.join(batch.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
      .unionByName(batch)

  test("four interleaved maintenance batches equal one frozen recode of the model corpus") {
    val idx = scratch("ivfpq_seq")
    val idxR = scratch("ivfpq_seq_ref")
    VectorIndex.buildIvfPqIndex(spark, SfDir, idx)

    val base = Tables(spark, SfDir).embeddings.select("vec_id", "embedding")
    // one donor embedding (a vector of some other cell) for the move batch
    val ledger0 = spark.read.parquet(s"$idx/ledger")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val someCell = ledger0.values.min
    val donorId = ledger0.collectFirst { case (id, c) if c != someCell => id }.get
    val donorEmb = base.filter(col("vec_id") === donorId).select("embedding")

    // b1: cross-cell MOVES — every id ≡1 (mod 7) re-embedded to the donor
    val b1 = base.filter(col("vec_id") % 7 === 1).select("vec_id")
      .crossJoin(donorEmb)
    // b2: DELETES — every id ≡2 (mod 11) updated to a zero vector
    // (guard-rejected → removed); overlaps b1 on ids ≡ both
    val b2 = base.filter(col("vec_id") % 11 === 2)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(0.0 AS FLOAT))").as("embedding"))
    // b3: MOVE-BACKS — the even half of b1's ids restored to their
    // original embeddings (their old cell is now b1's donor cell, or
    // nothing at all if b2 deleted them in between)
    val b3 = base.filter(col("vec_id") % 7 === 1 && col("vec_id") % 2 === 0)
    // b4: RE-INSERTS — the even half of b2's deleted ids land again with
    // their original embeddings (the no-old-cell insert path), and any
    // overlap with b3 is a content-idempotent re-land
    val b4 = base.filter(col("vec_id") % 11 === 2 && col("vec_id") % 2 === 0)

    var model = base
    for (b <- Seq(b1, b2, b3, b4)) {
      VectorIndex.upsertIvfPqIndex(spark, idx, b)
      model = modelUpsert(model, b)
    }
    // every class must be non-trivially exercised by the fixture
    assert(b1.count() > 0 && b2.count() > 0 && b3.count() > 0 && b4.count() > 0)

    // reference: a fresh artifact's frozen quantizers, then ONE recode of
    // the model corpus, which replaces codes/ and ledger/ wholesale — a
    // pure coding, so ids the chain DELETED and never re-inserted have no
    // row in either artifact
    VectorIndex.buildIvfPqIndex(spark, SfDir, idxR)
    VectorIndex.recodeIvfPqIndex(spark, idxR, model)

    assert(codesRows(idx) == codesRows(idxR),
      "four chained upserts must land exactly the one-shot frozen recode's codes")
    assert(ledgerRows(idx) == ledgerRows(idxR),
      "and exactly its ledger")
    // the chain's net deletes are real: the odd half of b2's ids are gone
    val gone = spark.read.parquet(s"$idx/codes")
      .filter(col("vec_id") % 11 === 2 && col("vec_id") % 2 =!= 0).count()
    assert(gone == 0, "ids deleted and never re-inserted must stay gone")
  }
}
