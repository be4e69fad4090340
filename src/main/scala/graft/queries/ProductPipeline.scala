package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.core.WorkDirs
import graft.functions.{BboxOps, ProductNormalize}
import graft.pipeline.{CleanJob, ProductSchema}

/** The product pipeline exercised end-to-end as oracle-checked queries
  * (reference cleaner semantics, SURVEY §7.2): these run over the checked-in
  * silver-zone JSON fixtures (fixtures/silver, FIXTURES.md family A1), NOT
  * the driver's synthetic star schema — the `dir` argument is ignored.
  * The DuckDB oracles recompute the WHOLE pipeline independently from the
  * same JSON files (read_json/read_text), so every clean-zone rule —
  * conformance, normalization, lineage, partition layout, bbox geometry —
  * is verified end-to-end, not just the final aggregate.
  */
object ProductPipeline {

  val SilverGlob = WorkDirs.fixture("silver/PnP/*/*/*.json")
  private val PipelineRoot = WorkDirs.target("pipeline")
  val CleanRoot = s"$PipelineRoot/clean"

  /** DuckDB read of the silver zone with ProductSchema's types (its
    * `columns` option = the conformance contract: missing keys → NULL).
    */
  private val rawCte =
    s"""raw AS (
       |  SELECT *, string_split(filename, '/') AS _p
       |  FROM read_json('$SilverGlob', format='array', filename=true,
       |    columns={product_name:'VARCHAR', brand:'VARCHAR',
       |             current_price:'DOUBLE', was_price:'DOUBLE',
       |             weight_volume:'VARCHAR', unit:'VARCHAR',
       |             deal_type:'VARCHAR', multi_buy_quantity:'INTEGER',
       |             bounding_box:'INTEGER[]', group_id:'VARCHAR'}))""".stripMargin

  /** DuckDB twin of CleanJob.clean — built from the same normalization
    * rules (ProductNormalize `*Sql`) so they cannot drift.
    */
  private val cleanCte =
    s"""$rawCte,
       |clean AS (
       |  SELECT product_name,
       |    ${ProductNormalize.normalizeBrandSql("brand")} AS brand,
       |    current_price, was_price, weight_volume,
       |    ${ProductNormalize.normalizeUnitSql("unit")} AS unit,
       |    deal_type, multi_buy_quantity,
       |    array_to_string(bounding_box, ',') AS bounding_box,
       |    coalesce(group_id, 'UNKNOWN') AS group_id,
       |    _p[-3] AS province, _p[-2] AS date_range, _p[-1] AS source_file
       |  FROM raw)""".stripMargin

  private def cleaned(spark: SparkSession): DataFrame =
    CleanJob.clean(CleanJob.readSilver(spark, SilverGlob))

  /** Clean-zone projection for oracle-compared output: the on-disk
    * `bounding_box` stays `array<int>`, but the comparison gate hashes rows
    * through pandas, which cannot hash array cells — serialize it to a
    * null-preserving "x1,y1,x2,y2" string on BOTH sides of the compare.
    */
  private def cleanOutput(df: DataFrame): DataFrame = {
    val bbox = col("bounding_box")
    val cols = ProductSchema.cleanColumns.map {
      case "bounding_box" =>
        // size > 0 (null for both null and EMPTY arrays): DuckDB's
        // array_to_string([]) yields NULL while concat_ws yields "" — an
        // empty extractor bbox must serialize identically on both sides
        when(size(bbox) > 0, concat_ws(",", bbox.cast("array<string>")))
          .as("bounding_box")
      case c => col(c)
    }
    df.select(cols: _*)
  }

  // ------------------------------------------------------------------ p1

  /** Full pipeline incl. the partitioned sink: silver → clean → dynamic-
    * partition-overwrite parquet → read back (S6, P4–P10, K4). What comes
    * back from disk must match DuckDB's independent recomputation — this
    * also proves the partition round-trip loses nothing.
    */
  def cleanProducts(spark: SparkSession, dir: String): DataFrame =
    cleanOutput(CleanJob.run(spark, SilverGlob, CleanRoot))
      .orderBy("province", "date_range", "source_file", "product_name")

  val cleanProductsSql: String =
    s"""WITH $cleanCte
       |SELECT * FROM clean
       |ORDER BY province, date_range, source_file, product_name""".stripMargin

  // ------------------------------------------------------------------ p2

  /** The SURVEY §7.2 flagship: avg discount by province/brand over the
    * clean table — scan with partition pruning + hash agg.
    */
  def avgDiscount(spark: SparkSession, dir: String): DataFrame =
    cleaned(spark)
      .filter(col("was_price").isNotNull)
      .groupBy("province", "brand")
      .agg(
        round(avg(col("was_price") - col("current_price")), 4).as("avg_discount"),
        count(lit(1)).as("n_specials"))
      .orderBy("province", "brand")

  val avgDiscountSql: String =
    s"""WITH $cleanCte
       |SELECT province, brand,
       |  round(avg(was_price - current_price), 4) AS avg_discount,
       |  count(*) AS n_specials
       |FROM clean WHERE was_price IS NOT NULL
       |GROUP BY province, brand
       |ORDER BY province, brand""".stripMargin

  // ------------------------------------------------------------------ p6

  /** The CATALOG path (K6, the reference's Glue-catalog equivalent —
    * `infrastructure/main.tf:288-352`): register the clean zone as a
    * partitioned metastore table via saveAsTable, then answer p2's
    * question through `spark.sql` over the TABLE NAME — scan, partition
    * pruning and schema all resolved from the catalog, not from a path.
    * The oracle is p2's independent recomputation, so a mismatch anywhere
    * in the write-register-read round-trip fails the row hash.
    */
  def catalogDiscount(spark: SparkSession, dir: String): DataFrame = {
    CleanJob.writeCleanAsTable(
      CleanJob.clean(CleanJob.readSilver(spark, SilverGlob)), "products_clean")
    spark.sql(
      """SELECT province, brand,
        |  round(avg(was_price - current_price), 4) AS avg_discount,
        |  count(*) AS n_specials
        |FROM products_clean WHERE was_price IS NOT NULL
        |GROUP BY province, brand
        |ORDER BY province, brand""".stripMargin)
  }

  // ------------------------------------------------------------------ p3

  /** Deal-group rollup (J3): products sharing a group_id within one page
    * form one multi-buy deal.
    */
  def dealGroups(spark: SparkSession, dir: String): DataFrame =
    cleaned(spark)
      .filter(col("group_id") =!= "UNKNOWN")
      .groupBy("province", "date_range", "source_file", "group_id")
      .agg(
        count(lit(1)).as("n_items"),
        min("multi_buy_quantity").as("multi_buy_quantity"),
        round(sum("current_price"), 2).as("deal_total"))
      .orderBy("province", "date_range", "source_file", "group_id")

  val dealGroupsSql: String =
    s"""WITH $cleanCte
       |SELECT province, date_range, source_file, group_id,
       |  count(*) AS n_items,
       |  min(multi_buy_quantity) AS multi_buy_quantity,
       |  round(sum(current_price), 2) AS deal_total
       |FROM clean WHERE group_id <> 'UNKNOWN'
       |GROUP BY 1, 2, 3, 4
       |ORDER BY 1, 2, 3, 4""".stripMargin

  // ------------------------------------------------------------------ p4

  /** Latest catalogue per province (SURVEY §2.8/§7.4 item 2): parse the
    * date_range slug into real dates, rank per province. The window
    * partitions on province — the table's natural partition key, so ranking
    * never shuffles more than the tiny distinct catalogue list.
    */
  def latestCatalogue(spark: SparkSession, dir: String): DataFrame = {
    val cat = cleaned(spark).select("province", "date_range").distinct()
      .withColumn("valid_from", ProductNormalize.validFrom(col("date_range")))
      .withColumn("valid_to", ProductNormalize.validTo(col("date_range")))
    val w = Window.partitionBy("province")
      .orderBy(desc("valid_to"), asc("date_range"))
    cat.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("province", "date_range", "valid_from", "valid_to")
      .orderBy("province")
  }

  val latestCatalogueSql: String =
    s"""WITH $cleanCte,
       |cat AS (SELECT DISTINCT province, date_range FROM clean),
       |d AS (
       |  SELECT province, date_range,
       |    ${ProductNormalize.validFromSql("date_range")} AS valid_from,
       |    ${ProductNormalize.validToSql("date_range")} AS valid_to
       |  FROM cat)
       |SELECT province, date_range, valid_from, valid_to
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY province ORDER BY valid_to DESC, date_range) AS rn
       |      FROM d)
       |WHERE rn = 1
       |ORDER BY province""".stripMargin

  // ------------------------------------------------------------------ p5

  /** Crop specification (the cropper minus the pixels): whole-file JSON →
    * from_json → posexplode with TRUE array indices (G4/G5/P15), bbox
    * validity filter (F5), pad/clamp/pixel geometry (P11) against a fixed
    * 300-DPI A4 page, sanitized crop filename (P12) — everything the
    * reference computes per product before the actual image crop
    * (`pnp-cropperLambda.py:60-94`).
    */
  def cropSpec(spark: SparkSession, dir: String): DataFrame = {
    val pageW = lit(2480.0)
    val pageH = lit(3508.0)
    val rows = spark.read.option("wholetext", "true").text(SilverGlob)
      .select(
        input_file_name().as("_src_path"),
        from_json(col("value"), ArrayType(ProductSchema.silver)).as("arr"))
      .select(col("_src_path"), posexplode(col("arr")).as(Seq("i", "p")))
      .filter(BboxOps.isValid(col("p.bounding_box")))
    val parts = split(col("_src_path"), "/")
    val name = coalesce(col("p.product_name"),
      concat(lit("product_"), col("i").cast("string")))
    val padded = BboxOps.padClamp(col("p.bounding_box"))
    val px = BboxOps.toPixels(padded, pageW, pageH)
    rows.select(
      try_element_at(parts, lit(-3)).as("province"),
      try_element_at(parts, lit(-2)).as("date_range"),
      try_element_at(parts, lit(-1)).as("source_file"),
      col("i").cast("long").as("i"),
      col("p.product_name").as("product_name"),
      padded.getField("xmin_pad").as("xmin_pad"),
      padded.getField("ymin_pad").as("ymin_pad"),
      padded.getField("xmax_pad").as("xmax_pad"),
      padded.getField("ymax_pad").as("ymax_pad"),
      px.getField("left").as("left_px"),
      px.getField("top").as("top_px"),
      px.getField("right").as("right_px"),
      px.getField("bottom").as("bottom_px"),
      concat(col("i").cast("string"), lit("_"),
        ProductNormalize.sanitizeFilename(name), lit(".jpg")).as("crop_file"))
      .orderBy("province", "date_range", "source_file", "i")
  }

  val cropSpecSql: String = {
    val pad = BboxOps.padClampSql("b")
    s"""WITH files AS (
       |  SELECT content::JSON AS j, string_split(filename, '/') AS _p
       |  FROM read_text('$SilverGlob')),
       |idx AS (
       |  SELECT _p, j,
       |    unnest(generate_series(0, CAST(json_array_length(j) AS INTEGER) - 1)) AS i
       |  FROM files),
       |prod AS (
       |  SELECT _p[-3] AS province, _p[-2] AS date_range, _p[-1] AS source_file,
       |    CAST(i AS BIGINT) AS i,
       |    json_extract_string(j, '$$[' || i || '].product_name') AS product_name,
       |    CAST(json_extract(j, '$$[' || i || '].bounding_box') AS INTEGER[]) AS b
       |  FROM idx),
       |valid AS (SELECT * FROM prod WHERE ${BboxOps.isValidSql("b")}),
       |geom AS (
       |  SELECT province, date_range, source_file, i, product_name,
       |    ${pad("xmin_pad")} AS xmin_pad,
       |    ${pad("ymin_pad")} AS ymin_pad,
       |    ${pad("xmax_pad")} AS xmax_pad,
       |    ${pad("ymax_pad")} AS ymax_pad,
       |    coalesce(product_name, 'product_' || i) AS _nm
       |  FROM valid)
       |SELECT province, date_range, source_file, i, product_name,
       |  xmin_pad, ymin_pad, xmax_pad, ymax_pad,
       |  ${BboxOps.toPixelSql("xmin_pad", "2480.0")} AS left_px,
       |  ${BboxOps.toPixelSql("ymin_pad", "3508.0")} AS top_px,
       |  ${BboxOps.toPixelSql("xmax_pad", "2480.0")} AS right_px,
       |  ${BboxOps.toPixelSql("ymax_pad", "3508.0")} AS bottom_px,
       |  i || '_' || ${ProductNormalize.sanitizeFilenameSql("_nm")} || '.jpg' AS crop_file
       |FROM geom
       |ORDER BY province, date_range, source_file, i""".stripMargin
  }

  // ----------------------------------------------------------------- st1

  /** The streaming pipeline (S7/§2.10), cold-started each run: AvailableNow
    * backfill over the silver fixtures through the checkpointed clean
    * stream, then read the streamed clean zone back. Must equal p1 — the
    * batch and streaming paths share CleanJob, and the oracle is the same
    * independent recomputation.
    */
  def streamClean(spark: SparkSession, dir: String): DataFrame = {
    val cleanRoot = s"$PipelineRoot/clean_stream"
    val checkpoint = s"$PipelineRoot/ckpt_stream"
    graft.core.FsUtil.deleteRecursively(cleanRoot)
    graft.core.FsUtil.deleteRecursively(checkpoint)
    graft.streaming.PipelineStreams.backfill(spark, SilverGlob, cleanRoot, checkpoint)
    cleanOutput(spark.read.parquet(cleanRoot))
      .orderBy("province", "date_range", "source_file", "product_name")
  }

  // ----------------------------------------------------------------- st4

  /** The ENTIRE streaming DAG, cold-started: fixture PDFs drain through
    * convert → extract → clean → crop as four checkpointed AvailableNow
    * queries (graft.streaming.PipelineStreams.runDag); the resulting clean
    * zone must match the independent oracle recomputation — i.e. equal what
    * the batch pipeline produces from the same bytes.
    */
  def streamDag(spark: SparkSession, dir: String): DataFrame = {
    val root = s"$PipelineRoot/dag"
    graft.core.FsUtil.deleteRecursively(root)
    val zones = graft.pipeline.Pipeline.Zones(root)
    graft.pipeline.FixtureBinaries.writeRawPdfs(zones.raw)
    graft.streaming.PipelineStreams.runDag(spark, zones,
      new graft.pipeline.FixtureExtractor())
    cleanOutput(spark.read.parquet(zones.clean))
      .orderBy("province", "date_range", "source_file", "product_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_clean_products" -> (cleanProducts _),
    "p2_avg_discount" -> (avgDiscount _),
    "p3_deal_groups" -> (dealGroups _),
    "p6_catalog_discount" -> (catalogDiscount _),
    "p4_latest_catalogue" -> (latestCatalogue _),
    "p5_crop_spec" -> (cropSpec _),
    "st1_stream_clean" -> (streamClean _),
    "st4_stream_dag" -> (streamDag _))

  val oracles: Map[String, String] = Map(
    "p1_clean_products" -> cleanProductsSql,
    "p2_avg_discount" -> avgDiscountSql,
    "p3_deal_groups" -> dealGroupsSql,
    "p6_catalog_discount" -> avgDiscountSql,
    "p4_latest_catalogue" -> latestCatalogueSql,
    "p5_crop_spec" -> cropSpecSql,
    "st1_stream_clean" -> cleanProductsSql,
    "st4_stream_dag" -> cleanProductsSql)
}
