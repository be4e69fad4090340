package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.queries.Sampling

/** st15's batching-independence contract: the admission test is per-row
  * deterministic (salted hash vs a broadcast rate plan), so ANY slicing of
  * the arrival stream — here 5 micro-batches in doc-id slices — must admit
  * exactly the batch t25 set. The oracle gate replays the zone in one
  * batch; this spec is the multi-batch half.
  */
class StreamTempMixSpec extends SparkTestBase {

  private lazy val SfDir = testData("0.01")

  test("multi-batch replay admits exactly the batch t25 set") {
    val dir = scratch("tempmix_replay")
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    val t0 = 1700000000000L
    (0 until 5).foreach { i =>
      ReplayFixtures.writeOne(docs.filter(pmod(col("doc_id"), lit(5L)) === i),
        f"$dir/slice_$i.parquet", t0 + i * 60000L)
    }
    val rates = Sampling.temperatureRates(spark, SfDir)
    val stream = DocumentStreams.readDocuments(
        spark, dir, glob = "*.parquet", maxFilesPerTrigger = Some(1))
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val q = Sampling.admitTempMix(stream, broadcast(rates))
      .writeStream.queryName("tempmix_t").outputMode("append")
      .format("memory").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("tempmix_t")
    val want = Sampling.temperatureMix(spark, SfDir)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
