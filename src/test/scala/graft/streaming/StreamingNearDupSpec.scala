package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.operators.{MinhashBandsReference, TextDedup}
import graft.queries.EventStreaming

/** st9 streaming near-dup detection under deterministic multi-batch
  * replay: the per-arrival band-ledger verdicts must collapse to exactly
  * the batch d12 result on the same corpus, with duplicates flagged ACROSS
  * the batch boundary (the ledger state carrying), Append-mode
  * exactly-once emission, and the native in-row band pass bit-identical
  * to the explode+aggregate reference formulation.
  */
class StreamingNearDupSpec extends SparkTestBase {

  private lazy val SfDir = testData("0.001")

  private def docs: DataFrame =
    spark.read.parquet(s"$SfDir/documents.parquet") // 500 docs

  test("native in-row band hashes equal the explode+aggregate batch path") {
    val agg = MinhashBandsReference(docs).orderBy("doc_id", "band").collect()
    val inRow = TextDedup.minhashBands(docs).orderBy("doc_id", "band").collect()
    assert(agg.toSeq == inRow.toSeq)
    assert(agg.length == docs.count() * TextDedup.Bands)
  }

  test("native band hashes agree on multi-byte UTF-8 and degenerate texts") {
    // the native expression walks char->byte offsets itself (2-, 3- and
    // 4-byte sequences, incl. surrogate-pair emoji) — the one place it
    // could drift from the engine's substring; empty/short texts exercise
    // the end-clamped shingle window
    import spark.implicits._
    val tricky = Seq(
      (1L, "héllo wörld ünïcode ẞtraße mit ümläuten über älles"),
      (2L, "日本語のテキストですこんにちは世界これはテストです"),
      (3L, "mixed ascii καὶ ἑλληνικά and 中文 and عربى text"),
      (4L, "emoji 😀🎉🚀 inside 🌍 the text 😀🎉🚀 again"),
      (5L, ""), (6L, "short"), (7L, "exactly8"), (8L, "9 chars!!"))
      .toDF("doc_id", "text")
    val agg = MinhashBandsReference(tricky).orderBy("doc_id", "band").collect()
    val inRow = TextDedup.minhashBands(tricky).orderBy("doc_id", "band").collect()
    assert(agg.toSeq == inRow.toSeq)
  }

  test("replayed verdicts equal batch d12, dups flagged across batches, append exactly-once") {
    val dir = scratch("near_dup_replay")
    val T0 = 1700000000000L
    val base = docs.filter(col("doc_id") < 40)
    val fresh = docs.filter(col("doc_id").between(40, 49))
    // exact copies of docs 0-9 under new ids — all 4 bands collide with
    // their originals, which arrive one batch EARLIER (ledger must carry)
    val dups = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 100000L)
    ReplayFixtures.writeOne(base, s"$dir/f0.parquet", T0)
    ReplayFixtures.writeOne(dups.unionByName(fresh), s"$dir/f1.parquet", T0 + 60000L)

    val corpus = base.unionByName(dups).unionByName(fresh)
    val expected = TextDedup.nearDupVerdicts(corpus)
      .withColumn("is_near_dup", col("is_near_dup").cast("int"))
      .orderBy("doc_id").collect()

    val hits = EventStreams.replayToTable(
      DocumentStreams.nearDupBandHits(
        DocumentStreams.readDocuments(spark, dir, glob = "*.parquet",
          maxFilesPerTrigger = Some(1))).toDF(),
      "st9_spec_mem", OutputMode.Append())
    val got = EventStreaming.collapseNearDup(hits).collect()
    assert(got.toSeq == expected.toSeq)

    // exact copies arriving after their originals: all 4 bands hit
    val dupRows = got.filter(_.getLong(0) >= 100000L)
    assert(dupRows.length == 10)
    assert(dupRows.forall(r => r.getInt(1) == 1 && r.getLong(2) == 4L))

    // append exactly-once: one sink row per (doc, band)
    assert(hits.count() == corpus.count() * TextDedup.Bands)
    assert(hits.groupBy("doc_id", "band").count().filter(col("count") > 1).isEmpty)
  }

  /** st9b bounded twin: in-horizon near-dups flag, the bucket ledger is
    * EVICTED once the watermark passes its horizon, and a post-horizon
    * re-crawl re-emits as fresh (the st6b timeline, band-bucket form):
    *   f0 @ T0        40 originals
    *   f1 @ T0+10m    copies of docs 0-9  -> in-horizon, all 4 bands hit
    *   f2 @ T0+3h     10 fresh texts      -> advances the watermark
    *   f3 @ T0+3h5m   1 filler            -> batch runs with wm past the
    *                                         f0/f1 horizon: timeouts fire,
    *                                         buckets leave the store
    *   f4 @ T0+3h10m  copies of docs 0-9  -> buckets gone, NOT flagged
    */
  test("bounded near-dup: in-horizon dups flag, post-horizon re-crawls re-emit fresh") {
    val dir = scratch("near_dup_bounded")
    val T0 = 1700000000000L
    val Hour = 3600000L
    val HorizonMs = 30L * 60000L
    def at(df: org.apache.spark.sql.DataFrame, ts: Long) =
      df.withColumn("event_ts", timestamp_millis(lit(ts)))
    val base = docs.filter(col("doc_id") < 40)
    def copies(by: Long) = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + by)
    val fresh = docs.filter(col("doc_id").between(40, 49))
      .withColumn("doc_id", col("doc_id") + 900000L)
    // NOT doc 50: the fixture plants near-dup pairs (doc 50 is a
    // 0.97-Jaccard twin of doc 0 — a doc-50 filler re-seeds doc 0's
    // evicted buckets and the f4 copy correctly flags again; doc 400's
    // max Jaccard against docs 0-9 is 0.03)
    val filler = docs.filter(col("doc_id") === 400)
      .withColumn("doc_id", lit(990000L))
    ReplayFixtures.writeOne(at(base, T0), s"$dir/f0.parquet", T0)
    ReplayFixtures.writeOne(at(copies(100000L), T0 + 600000L),
      s"$dir/f1.parquet", T0 + 60000L)
    ReplayFixtures.writeOne(at(fresh, T0 + 3 * Hour), s"$dir/f2.parquet",
      T0 + 120000L)
    ReplayFixtures.writeOne(at(filler, T0 + 3 * Hour + 300000L),
      s"$dir/f3.parquet", T0 + 180000L)
    ReplayFixtures.writeOne(at(copies(200000L), T0 + 3 * Hour + 600000L),
      s"$dir/f4.parquet", T0 + 240000L)

    val m = StreamMetrics.attach(spark)
    val hits = EventStreams.replayToTable(
      DocumentStreams.nearDupBandHitsWithinWatermark(
        DocumentStreams.readDocumentsWithTs(spark, dir, glob = "*.parquet",
          maxFilesPerTrigger = Some(1)),
        HorizonMs).toDF(),
      "st9b_spec_mem", OutputMode.Append())
    m.detach()
    val verdicts = EventStreaming.collapseNearDup(hits).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap

    // eviction observably fired DURING the replay (the f0/f1 buckets
    // leaving the store once the watermark passed their horizon), and the
    // final ledger is horizon-sized, far below every-bucket-ever-seen
    val bs = m.batchesFor("st9b_spec_mem")
    assert(bs.map(_.stateRowsRemoved).sum >= 150,
      s"expected the ~160 f0/f1 buckets evicted, saw ${bs.map(_.stateRowsRemoved).sum}")
    assert(bs.map(_.stateRowsTotal).last < 100)

    // in-horizon copies: every band hits its original's bucket
    (100000L until 100010L).foreach(id => assert(verdicts(id) == ((1, 4L))))
    // post-horizon copies: the buckets were evicted — fresh, zero hits
    (200000L until 200010L).foreach(id => assert(verdicts(id) == ((0, 0L))))
  }
}
