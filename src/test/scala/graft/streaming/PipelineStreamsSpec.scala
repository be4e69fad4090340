package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBusShim

import graft.SparkTestBase
import graft.core.WorkDirs
import graft.pipeline.{FixtureBinaries, FixtureExtractor, Pipeline}

/** Streaming semantics tests (§2.10): exactly-once file handling via the
  * checkpoint (replacing the reference's F3 existence checks) and idempotent
  * partition overwrite under re-delivery.
  */
class PipelineStreamsSpec extends SparkTestBase {

  private val FixtureRoot = WorkDirs.fixture("silver/PnP")

  private def copyFixture(rel: String, silverRoot: String): Unit = {
    val src = Paths.get(s"$FixtureRoot/$rel")
    val dst = Paths.get(s"$silverRoot/$rel")
    Files.createDirectories(dst.getParent)
    Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  test("AvailableNow backfill drains everything; re-run with checkpoint is a no-op; new files are incremental") {
    val silver = scratch("stream-silver")
    val clean = scratch("stream-clean")
    val ckpt = scratch("stream-ckpt")
    val glob = s"$silver/*/*/*.json"

    copyFixture("Gauteng/13_February_-_15_February_2026/page_1.json", silver)
    copyFixture("Gauteng/13_February_-_15_February_2026/page_2.json", silver)
    PipelineStreams.backfill(spark, glob, clean, ckpt)
    assert(spark.read.parquet(clean).count() === 8)

    // exactly-once: nothing new -> the already-processed files must NOT be
    // re-delivered (and the clean zone must be untouched)
    PipelineStreams.backfill(spark, glob, clean, ckpt)
    assert(spark.read.parquet(clean).count() === 8)

    // incremental: a late-arriving file lands in ITS partition only
    copyFixture("Eastern_Cape/20_February_-_22_February_2026/page_1.json", silver)
    PipelineStreams.backfill(spark, glob, clean, ckpt)
    val after = spark.read.parquet(clean)
    assert(after.count() === 13)
    assert(after.filter(col("province") === "Gauteng").count() === 8)
  }

  test("a later batch for the same partition MERGES: sibling pages survive") {
    val silver = scratch("stream-redeliver-silver")
    val clean = scratch("stream-redeliver-clean")
    val ckpt = scratch("stream-redeliver-ckpt")
    val glob = s"$silver/*/*/*.json"

    copyFixture("Gauteng/13_February_-_15_February_2026/page_1.json", silver)
    PipelineStreams.backfill(spark, glob, clean, ckpt)
    assert(spark.read.parquet(clean).count() === 4)

    // page_2 arrives in a LATER batch for the SAME partition: the sink must
    // replace per source file, not per partition — page_1's rows survive
    // (the reference's cleaner clobbers sibling pages here; see
    // CleanJob.mergeWriteClean)
    copyFixture("Gauteng/13_February_-_15_February_2026/page_2.json", silver)
    PipelineStreams.backfill(spark, glob, clean, ckpt)
    val rows = spark.read.parquet(clean)
    assert(rows.filter(col("source_file") === "page_1.json").count() === 4)
    assert(rows.filter(col("source_file") === "page_2.json").count() === 4)
    assert(rows.count() === 8)
  }

  test("one file per trigger batch: a partition spanning many batches loses nothing") {
    val silver = scratch("stream-onebyone-silver")
    val clean = scratch("stream-onebyone-clean")
    val ckpt = scratch("stream-onebyone-ckpt")
    val glob = s"$silver/*/*/*.json"
    Seq("Gauteng/13_February_-_15_February_2026/page_1.json",
      "Gauteng/13_February_-_15_February_2026/page_2.json",
      "Eastern_Cape/20_February_-_22_February_2026/page_1.json",
      "Eastern_Cape/20_February_-_22_February_2026/page_2.json")
      .foreach(copyFixture(_, silver))
    PipelineStreams.backfill(spark, glob, clean, ckpt, maxFilesPerTrigger = 1)
    assert(spark.read.parquet(clean).count() === 13)
  }

  test("unparseable streamed files land in the quarantine zone, not nowhere") {
    val silver = scratch("stream-quarantine-silver")
    val clean = scratch("stream-quarantine-clean")
    val ckpt = scratch("stream-quarantine-ckpt")
    // the quarantine zone is a SIBLING of the clean root, outside scratch
    graft.core.FsUtil.deleteRecursively(s"${clean}_quarantine")
    val glob = s"$silver/*/*/*.json"
    copyFixture("Gauteng/13_February_-_15_February_2026/page_1.json", silver)
    val bad = Paths.get(s"$silver/Gauteng/13_February_-_15_February_2026/page_9.json")
    Files.writeString(bad, "llm said: not json {{{")
    PipelineStreams.backfill(spark, glob, clean, ckpt)
    assert(spark.read.parquet(clean).count() === 4)
    val q = spark.read.parquet(s"${clean}_quarantine").collect()
    assert(q.length === 1)
    assert(q(0).getAs[String]("raw").contains("not json"))
  }

  test("a wave past 32 silver files lists them on the driver: no listing job") {
    // 10 provinces x both fixture flyers = 20 PDFs, 40 pages: the silver
    // glob names 40 paths, past Spark's default threshold (32) for
    // listing in a distributed job
    val zones = Pipeline.Zones(scratch("stream-listing"))
    val pages = scratch("stream-listing-pages")
    val flyers = Seq("Gauteng/13_February_-_15_February_2026",
      "Eastern_Cape/20_February_-_22_February_2026")
    for (p <- 0 until 10; flyer <- flyers) {
      val province = f"P$p%02d"
      val date = flyer.split('/')(1)
      for (page <- Seq("page_1.json", "page_2.json")) {
        val dst = Paths.get(s"$pages/$province/$date/$page")
        Files.createDirectories(dst.getParent)
        Files.copy(Paths.get(s"$FixtureRoot/$flyer/$page"), dst)
      }
      val pdf = Paths.get(s"${zones.raw}/PnP/$province/$date.pdf")
      Files.createDirectories(pdf.getParent)
      Files.write(pdf, FixtureBinaries.minimalPdf(2))
    }

    val listing = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("Listing leaf files and directories"))
          .foreach(listing.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      PipelineStreams.runDag(spark, zones, new FixtureExtractor(pages))
      ListenerBusShim.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)

    // complete: every fixture product is cleaned, every valid box cropped
    assert(spark.read.parquet(zones.clean).count() === 10 * 13)
    assert(Files.walk(Paths.get(zones.shr)).filter(_.toString.endsWith(".jpg")).count() === 10 * 10)
    assert(listing.isEmpty, s"${listing.size} listing jobs, the first: ${listing.peek}")
  }
}
