package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.WorkDirs

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
}
