package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkTestBase
import graft.operators.VectorIndex
import graft.queries.{EventStreaming, Similarity}

/** st16 streaming vector ingest under genuine multi-batch replay: the
  * per-cell census folded incrementally over file-at-a-time batches must
  * equal the census of the corpus assigned in one batch pass — the
  * incremental index-maintenance contract. Also pins the monotone-collapse
  * assumption st16's Update-mode collapse rests on.
  */
class VectorIngestSpec extends SparkTestBase {

  private lazy val SfDir = testData("0.001")

  test("multi-batch census equals the single-batch assignment census") {
    val dir = scratch("vector_ingest")
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    // three files of disjoint id ranges, replayed one per micro-batch
    val T0 = 1700000000000L
    Seq(
      (emb.filter(col("vec_id") % 3 === 0), s"$dir/f0.parquet", T0),
      (emb.filter(col("vec_id") % 3 === 1), s"$dir/f1.parquet", T0 + 60000L),
      (emb.filter(col("vec_id") % 3 === 2), s"$dir/f2.parquet", T0 + 120000L)
    ).foreach { case (df, dst, ts) => ReplayFixtures.writeOne(df, dst, ts) }

    val assigned = VectorIndex.assignCellsToStream(spark, SfDir,
      DocumentStreams.readEmbeddings(
        spark, dir, glob = "*.parquet", maxFilesPerTrigger = Some(1)))
    val census = assigned.groupBy("cell").agg(
      count(lit(1)).as("n_vectors"), min("vec_id").as("first_vec_id"))
    val q = census.writeStream
      .queryName("vector_ingest_t")
      .outputMode(OutputMode.Update())
      .format("memory")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = EventStreaming
      .collapseVectorIngest(spark.table("vector_ingest_t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // batch twin: the same assignment projection over the same zone
    val batch = VectorIndex
      .assignCellsToStream(spark, SfDir, // trains the same memoized quantizer
        spark.read.parquet(s"$SfDir/embeddings.parquet")
          .select("vec_id", "embedding"))
      .groupBy("cell").agg(
        count(lit(1)).as("n_vectors"), min("vec_id").as("first_vec_id"))
      .orderBy("cell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    assert(streamed.toSeq === batch.toSeq,
      "incremental census must equal the one-pass census")
    // at least one micro-batch updated a cell seen in an earlier batch —
    // i.e. the run genuinely exercised cross-batch state, not one batch
    val updates = spark.table("vector_ingest_t")
    assert(updates.count() > streamed.length,
      "replay must emit interim versions (multi-batch state was exercised)")
  }

  test("directory-layout zones stream ALL rows (the silent-empty pathGlobFilter trap)") {
    // every Spark writer produces dir/table.parquet/part-*.parquet; the
    // old pathGlobFilter selection matched only leaf FILE names, so such
    // a zone streamed ZERO rows with no error (caught by the r16 x10
    // gate). The default-glob readers must consume both layouts.
    val dir = scratch("dir_layout_zone")
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    emb.repartition(3).write.parquet(s"$dir/embeddings.parquet") // directory
    val n = emb.count()
    val q = DocumentStreams.readEmbeddings(spark, dir)
      .writeStream.queryName("dir_layout_t")
      .outputMode(OutputMode.Append())
      .format("memory")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("dir_layout_t").count() === n,
      "a directory-layout table must stream every row, not silently none")

    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    docs.repartition(3).write.parquet(s"$dir/documents.parquet")
    val q2 = DocumentStreams.readDocuments(spark, dir)
      .writeStream.queryName("dir_layout_docs_t")
      .outputMode(OutputMode.Append())
      .format("memory")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.table("dir_layout_docs_t").count() === docs.count())
  }
}
