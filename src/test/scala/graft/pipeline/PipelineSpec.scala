package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.WorkDirs

/** Whole-DAG batch test (E1/E3): links → fetch (stub) → rasterize (stub) →
  * extract (fixture replay) → clean → crops, across all five medallion
  * zones on disk. Only the Gauteng/13_February catalogue has silver
  * fixtures, so only it yields products downstream — the other fetched
  * catalogues flow through as empty pages (F4 at every stage).
  */
class PipelineSpec extends SparkTestBase {

  test("runAll: scraped links to clean table and crop files end-to-end") {
    val zones = Pipeline.Zones(scratch("pipeline-e2e"))
    val links = ScrapeFeeder.readLinks(
      spark, WorkDirs.fixture("links/catalogue_links.json"))
    val clean = Pipeline.runAll(spark, links, zones)

    // raw zone: one PDF per (province, date_slug) target incl. J2 copies
    assert(Files.exists(Paths.get(
      s"${zones.raw}/PnP/Western_Cape/13_February_-_15_February_2026.pdf")))
    // interim zone: 2 stub pages per PDF, 4 fetch targets
    assert(spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").option("pathGlobFilter", "*.jpg")
      .load(zones.interim).count() === 8)
    // clean zone: only the catalogue with silver fixtures yields products
    assert(clean.count() === 8)
    assert(clean.select("province").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("Gauteng"))
    // crop zone: valid-bbox Gauteng products (4 on page_1, 1 on page_2)
    assert(Files.walk(Paths.get(zones.shr)).filter(_.toString.endsWith(".jpg"))
      .count() === 5)
    // partition pruning works against the clean zone layout
    val pruned = spark.read.parquet(zones.clean)
      .filter(col("province") === "Gauteng" &&
        col("date_range") === "13_February_-_15_February_2026")
    assert(pruned.count() === 8)
  }

  test("fetch plan: stub fetcher downloads each URL once, copies fan out (S2/J2/K1)") {
    val plan = ScrapeFeeder.fetchPlan(ScrapeFeeder.readLinks(
      spark, WorkDirs.fixture("links/catalogue_links.json")))
    val fetched = FetchJob.fetchAll(plan, new StubFetcher)
    assert(fetched.count() === 4) // every kept target got bytes
    // the shared URL produced byte-identical copies for both provinces
    val copies = fetched.filter(col("href").contains("gp-weekly"))
      .select("content").collect().map(_.getAs[Array[Byte]](0).toSeq)
    assert(copies.length === 2 && copies.distinct.length === 1)
  }
}
