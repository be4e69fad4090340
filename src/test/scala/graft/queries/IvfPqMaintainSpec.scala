package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[Similarity.maintainIvfPqIndex]] survives only as the benchmark
  * harness's entry point: a delegate to [[Similarity.upsertIvfPqIndex]].
  * Pinned here so the delegate can never drift from the writer it names —
  * it must land exactly the direct upsert's codes and ledger.
  */
class IvfPqMaintainSpec extends SparkTestBase {

  private lazy val SfDir = testData("0.001")

  private def codesRows(idx: String): Seq[Seq[Any]] = {
    val cols = col("vec_id") +: col("cell").cast("long").as("cell") +:
      (0 until Similarity.PqM).map(m => col(s"c$m"))
    spark.read.parquet(s"$idx/codes").select(cols: _*)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
  }

  private def ledgerRows(idx: String): Seq[(Long, Long)] =
    spark.read.parquet(s"$idx/ledger")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("maintainIvfPqIndex lands the direct upsert's codes and ledger") {
    val idxM = scratch("ivfpq_maintain_m")
    val idxD = scratch("ivfpq_maintain_d")
    Similarity.buildIvfPqBaseIndex(spark, SfDir, idxM)
    Similarity.buildIvfPqBaseIndex(spark, SfDir, idxD)
    val delta = Similarity.appendDelta(spark, SfDir)
    val (label, touched) = Similarity.maintainIvfPqIndex(spark, idxM, delta,
      corpus = spark.emptyDataFrame)
    assert(label == "upsert")
    assert(touched.nonEmpty &&
      touched == Similarity.upsertIvfPqIndex(spark, idxD, delta))
    assert(codesRows(idxM) == codesRows(idxD),
      "the delegate must land the direct upsert's codes")
    assert(ledgerRows(idxM) == ledgerRows(idxD),
      "and exactly its ledger")
  }
}
