package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.ProductNormalize
import graft.pipeline.ScrapeFeeder

/** Scraper-surface queries over the checked-in link fixture
  * (fixtures/links; the `dir` argument is ignored — see ProductPipeline).
  */
object Scrape {

  val LinksGlob = graft.core.WorkDirs.fixture("links/catalogue_links.json")

  /** F1 link filter + P1/P2 derivations + J2 dedup-rejoin + K1 key
    * convention, end-to-end: which rows fetch, which copy, and where each
    * PDF lands.
    */
  def fetchPlan(spark: SparkSession, dir: String): DataFrame =
    ScrapeFeeder.fetchPlan(ScrapeFeeder.readLinks(spark, LinksGlob))
      .orderBy("href", "province", "date_slug")

  val fetchPlanSql: String =
    s"""WITH links AS (
       |  SELECT * FROM read_json('$LinksGlob', format='array',
       |    columns={date_text:'VARCHAR', province_text:'VARCHAR', href:'VARCHAR'})),
       |derived AS (
       |  SELECT
       |    ${ProductNormalize.provinceFromLinkSql("province_text")} AS province,
       |    ${ProductNormalize.dateSlugSql("date_text")} AS date_slug,
       |    href
       |  FROM links),
       |kept AS (
       |  SELECT * FROM derived
       |  WHERE href IS NOT NULL
       |    AND contains(lower(href), '.pdf')
       |    AND province IS NOT NULL AND date_slug IS NOT NULL
       |    AND NOT contains(province, 'Shop_now'))
       |SELECT province, date_slug, href,
       |  (row_number() OVER (PARTITION BY href ORDER BY province, date_slug) = 1)
       |    AS is_primary,
       |  'data/raw/PnP/' || province || '/' || date_slug || '.pdf' AS target_key
       |FROM kept
       |ORDER BY href, province, date_slug""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sc1_fetch_plan" -> (fetchPlan _))

  val oracles: Map[String, String] = Map(
    "sc1_fetch_plan" -> fetchPlanSql)
}
