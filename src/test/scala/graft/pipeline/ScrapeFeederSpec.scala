package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.WorkDirs

class ScrapeFeederSpec extends SparkTestBase {

  private def plan = ScrapeFeeder.fetchPlan(
    ScrapeFeeder.readLinks(spark, WorkDirs.fixture("links/catalogue_links.json")))

  test("F1 filter: null href, non-pdf href, and Shop_now rows dropped") {
    val provinces = plan.select("province").collect().map(_.getString(0)).toSet
    assert(!provinces.contains("Shop_now"))
    assert(!provinces.contains("Free_State")) // null href
    assert(!provinces.contains("Limpopo"))    // .html link
    assert(plan.count() === 4)
  }

  test("J2: each distinct URL has exactly one primary fetch; copies rejoin") {
    val perUrl = plan.groupBy("href")
      .agg(sum(when(col("is_primary"), 1).otherwise(0)).as("primaries"),
        count(lit(1)).as("targets"))
      .collect()
    perUrl.foreach(r => assert(r.getAs[Long]("primaries") === 1))
    // gp-weekly.PDF is shared by Gauteng + Western_Cape: 1 fetch, 2 targets
    assert(perUrl.find(_.getAs[String]("href").contains("gp-weekly"))
      .get.getAs[Long]("targets") === 2)
  }

  test("P1/P2/K1: derived slug, province, and raw-zone key") {
    val kzn = plan.filter(col("province") === "KwaZulu_Natal").collect()(0)
    assert(kzn.getAs[String]("date_slug") === "20_February_-_22_February_2026")
    assert(kzn.getAs[String]("target_key") ===
      "data/raw/PnP/KwaZulu_Natal/20_February_-_22_February_2026.pdf")
  }

  test("rows without a derivable (province, date_slug) key are dropped, never keyed as 'null'") {
    import spark.implicits._
    // a null date_text used to null-propagate through fetchPlan's concat
    // into a NULL target_key, which the raw sink interpolated into a file
    // literally named "null" (mutually overwriting, invisible to the
    // *.pdf glob); a null province fell out only by 3VL accident
    val links = Seq(
      (null: String, "Gauteng", "https://x/a.pdf"),
      ("20 Feb - 22 Feb 2026", null: String, "https://x/b.pdf"),
      ("20 Feb - 22 Feb 2026", "Gauteng", "https://x/c.pdf"))
      .toDF("date_text", "province_text", "href")
    val p = ScrapeFeeder.fetchPlan(links).collect()
    assert(p.length === 1, "null-keyed rows must be dropped")
    assert(p(0).getAs[String]("href") === "https://x/c.pdf")
    assert(p(0).getAs[String]("target_key") != null)
    // and the sink independently refuses a null key loudly instead of
    // writing a 'null' file (defense in depth when a caller bypasses
    // catalogueLinks)
    val bad = Seq((null: String, Array[Byte](1, 2)))
      .toDF("target_key", "content")
    val e = intercept[org.apache.spark.SparkException] {
      FetchJob.writeRaw(bad, scratch("nullkey-raw"))
    }
    assert(e.getCause != null || e.getMessage.contains("null"))
  }
}
