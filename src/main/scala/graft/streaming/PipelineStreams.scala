package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.pipeline.{CleanJob, ConvertJob, CropJob, ExtractJob, ProductSchema, VisionExtractor}

/** The event-driven DAG as Structured Streaming (S7/§2.10; reference wiring
  * `infrastructure/main.tf:234-263`): new-file discovery on the silver zone
  * replaces S3 ObjectCreated events, the checkpoint's file-source log
  * replaces every ad-hoc "already processed?" existence check (F3), and the
  * dynamic-partition-overwrite sink keeps re-delivery idempotent — strictly
  * better failure semantics than the reference's check-then-write race
  * (SURVEY §7.4 item 4).
  *
  * Every query runs under `Trigger.AvailableNow`, which turns it into the
  * `bulk_clean.sh` backfill (E3) and the cron-driven DAG's hop: drain
  * everything outstanding, then stop.
  */
object PipelineStreams {

  /** Streaming clean: silver JSON arrivals → CleanJob transform →
    * partitioned clean zone. `maxFilesPerTrigger` bounds batch size — the
    * engine-native replacement for the reference's Lambda time-budget
    * chunking (`vision_parserLambda.py:183-191`).
    *
    * The sink is the per-source-file MERGE (not a bare partition
    * overwrite): a partition whose files span multiple trigger batches
    * must not lose the earlier batches' rows. Unparseable files append to
    * a quarantine zone beside the clean root — the batch path's
    * nothing-silently-disappears guarantee holds on the stream too.
    */
  def cleanStream(spark: SparkSession, silverGlob: String, cleanRoot: String,
                  checkpoint: String, maxFilesPerTrigger: Int = 256): StreamingQuery = {
    val silver = spark.readStream
      .schema(ProductSchema.silverWithCorrupt)
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", ProductSchema.CorruptColumn)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .json(silverGlob)
      .withColumn("_src_path", input_file_name())
    silver.writeStream
      .queryName("graft-clean-stream")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // three downstream actions consume this batch (merge-key collect,
        // merged write, quarantine probe); without a cache each one
        // re-parses the batch's multiLine JSON files from scratch
        batch.persist()
        try {
          CleanJob.mergeWriteClean(CleanJob.clean(batch), cleanRoot)
          val q = CleanJob.quarantined(batch)
          if (!q.isEmpty)
            // append-only diagnostics; a retried batch may append twice,
            // which is acceptable for a quarantine log
            q.write.mode("append").parquet(s"${cleanRoot}_quarantine")
        } finally batch.unpersist()
      }
      .start()
  }

  /** Drain-everything backfill (blocks until done) — `bulk_clean.sh` in one
    * call: the checkpoint makes re-runs incremental, the sink makes
    * re-delivery idempotent.
    */
  def backfill(spark: SparkSession, silverGlob: String, cleanRoot: String,
               checkpoint: String, maxFilesPerTrigger: Int = 256): Unit =
    cleanStream(spark, silverGlob, cleanRoot, checkpoint, maxFilesPerTrigger)
      .awaitTermination()

  /** The binaryFile source's fixed schema (streaming file sources require
    * one explicitly).
    */
  private val binarySchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Raw→interim (the reference's *.pdf S3-event edge,
    * `infrastructure/main.tf:237-242`): arriving PDFs rasterize into page
    * JPEGs.
    */
  def convertStream(spark: SparkSession, rawRoot: String, interimRoot: String,
                    checkpoint: String): StreamingQuery =
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.pdf")
      .option("recursiveFileLookup", "true")
      .schema(binarySchema)
      .load(rawRoot)
      .writeStream
      .queryName("graft-convert-stream")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ConvertJob.writeImages(ConvertJob.pages(batch), interimRoot)
      }
      .start()

  /** Interim→silver (the *.jpg edge, `main.tf:244-249`): arriving page
    * images run through the extractor into silver JSON documents.
    */
  def extractStream(spark: SparkSession, interimRoot: String, silverRoot: String,
                    extractor: VisionExtractor, checkpoint: String): StreamingQuery =
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.jpg")
      .option("recursiveFileLookup", "true")
      .schema(binarySchema)
      .load(interimRoot)
      .writeStream
      .queryName("graft-extract-stream")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ExtractJob.writeSilver(
          ExtractJob.extract(CropJob.pagesWithKey(batch), extractor), silverRoot)
      }
      .start()

  /** Silver→shr (the *.json edge feeding the cropper, `main.tf:251-256` +
    * the cleaner's async invoke): arriving silver documents join back to
    * their page images (read statically per batch) and crop.
    */
  def cropStream(spark: SparkSession, silverGlob: String, interimRoot: String,
                 shrRoot: String, checkpoint: String): StreamingQuery =
    spark.readStream
      .option("wholetext", "true")
      .text(silverGlob)
      .withColumn("_src_path", input_file_name())
      .writeStream
      .queryName("graft-crop-stream")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pages = CropJob.pagesWithKey(CropJob.readImages(spark, interimRoot))
        CropJob.writeCrops(
          CropJob.crops(pages, CropJob.productsFromRaw(batch)), shrRoot)
      }
      .start()

  /** Zone paths for the streaming DAG (mirrors pipeline.Pipeline.Zones). */
  final case class StreamCheckpoints(root: String) {
    val convert = s"$root/ckpt/convert"
    val extract = s"$root/ckpt/extract"
    val crop = s"$root/ckpt/crop"
    val clean = s"$root/ckpt/clean"
  }

  /** The whole event-driven DAG, streaming end-to-end with AvailableNow:
    * each edge drains what the previous edge produced — four checkpointed
    * queries replace the reference's four Lambda/S3-event hops
    * (`main.tf:234-263`). Repeated invocation is incremental AND idempotent.
    */
  def runDag(spark: SparkSession, zones: graft.pipeline.Pipeline.Zones,
             extractor: VisionExtractor): Unit = {
    val ck = StreamCheckpoints(zones.root)
    convertStream(spark, zones.raw, zones.interim, ck.convert).awaitTermination()
    extractStream(spark, zones.interim, zones.silver, extractor, ck.extract)
      .awaitTermination()
    // clean and crop both fan out FROM silver with independent sinks and
    // checkpoints — exactly the reference's two parallel S3-event edges
    // (`main.tf:251-263`) — so they drain concurrently
    val cleanQ = cleanStream(spark, zones.silverGlob, zones.clean, ck.clean)
    val cropQ =
      cropStream(spark, zones.silverGlob, zones.interim, zones.shr, ck.crop)
    cleanQ.awaitTermination()
    cropQ.awaitTermination()
  }
}
