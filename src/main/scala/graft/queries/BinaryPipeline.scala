package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{FsUtil, WorkDirs}
import graft.functions.{BboxOps, ProductNormalize}
import graft.pipeline.{ConvertJob, CropJob, ExtractJob, FixtureBinaries, FixtureExtractor, ImageOps, PhotoRasterizer, StubRasterizer}
import graft.pipeline.Pipeline.Zones

/** The binary (multimodal) pipeline exercised as oracle-checked queries:
  * raw PDFs → page images (ConvertJob, stub-rendered but really encoded
  * JPEGs) → image⋈product crop join (CropJob, real javax.imageio crops).
  *
  * Fixture binaries are generated deterministically under the work root
  * at query time; the DuckDB oracles verify everything EXCEPT raw pixels —
  * page fan-out counts from the actual PDF object structure, and crop
  * geometry / dimensions / filenames recomputed independently from the
  * silver JSON.
  * Pixel-level assertions (JPEG magic, decodability) live in the ScalaTest
  * specs.
  */
object BinaryPipeline {

  /** c1, c2, x1 and x2's zones: stub-rendered pages and their crops. Its
    * raw zone holds the fixture PDFs for every query here, c3 and c4
    * included, so c1's oracle finds them whichever query ran last.
    */
  val StubZones: Zones = Zones(WorkDirs.target("fixtures-bin/stub"))

  /** c3 and c4's page and crop zones. The photo-rendered pipeline MUST
    * NOT share them with the stub-rendered one (c2): CropJob.run caches
    * its crops frame, and Spark's CacheManager matches by ANALYZED PLAN —
    * a same-path rerun is served the PREVIOUS query's cached crops, so c3
    * ran over c2's stub pixels whenever c2 executed first in the same
    * session (caught when a fresh-session run produced different aHashes
    * than a full Verify sweep). Distinct paths make the plans distinct,
    * which both defeats the stale cache hit and decouples the two
    * queries' on-disk zones in either execution order.
    */
  val PhotoZones: Zones = Zones(WorkDirs.target("fixtures-bin/photo"))

  private val W = StubRasterizer.PageWidth
  private val H = StubRasterizer.PageHeight

  /** Cold-start the binary zones: stale binaries from a previous run with
    * different fixtures would otherwise feed rows the oracle (which reads
    * only the CURRENT fixtures) knows nothing about — the same
    * stale-state-masks-truth failure mode Verify's out-dir clearing fixes.
    */
  private def resetZones(): Unit =
    Seq(StubZones.root, PhotoZones.root).foreach(FsUtil.deleteRecursively)

  // ------------------------------------------------------------------ c1

  /** PDF→pages fan-out (S3/G2/P14/K2): one row per rendered page with real
    * decoded dimensions. The oracle counts /Type /Page objects in the same
    * PDF bytes — the fan-out arity is verified against the file structure.
    */
  def pdfPages(spark: SparkSession, dir: String): DataFrame = {
    resetZones()
    FixtureBinaries.writeRawPdfs(StubZones.raw)
    val dims = udf((b: Array[Byte]) => ImageOps.decodeDims(b))
    ConvertJob.pages(ConvertJob.readPdfs(spark, StubZones.raw))
      .withColumn("_d", dims(col("image")))
      .select(col("province"), col("flyer"), col("page_number"),
        col("_d._1").as("width"), col("_d._2").as("height"))
      .orderBy("province", "flyer", "page_number")
  }

  val pdfPagesSql: String =
    s"""WITH f AS (
       |  SELECT content, string_split(filename, '/') AS _p
       |  FROM read_text('${StubZones.raw}/PnP/*/*.pdf')),
       |c AS (
       |  SELECT _p[-2] AS province,
       |    regexp_replace(_p[-1], '\\.pdf$$', '') AS flyer,
       |    len(regexp_extract_all(content, '/Type\\s*/Page[^s]')) AS n
       |  FROM f),
       |x AS (
       |  SELECT province, flyer,
       |    unnest(generate_series(1, n)) AS page_number
       |  FROM c)
       |SELECT province, flyer, CAST(page_number AS BIGINT) AS page_number,
       |  CAST($W AS INTEGER) AS width, CAST($H AS INTEGER) AS height
       |FROM x
       |ORDER BY province, flyer, page_number""".stripMargin

  // ------------------------------------------------------------------ c2

  /** The full crop path (S4/J1/F5/P11/P12/P13/K5): convert fixture PDFs,
    * write interim images, join against the checked-in silver JSON, crop.
    * Output is crop METADATA; the oracle recomputes expected crop geometry
    * (trunc+clamp ints, PIL-style) and filenames from the JSON alone.
    */
  def productCrops(spark: SparkSession, dir: String): DataFrame = {
    resetZones()
    FixtureBinaries.writeRawPdfs(StubZones.raw)
    ConvertJob.run(spark, StubZones.raw, StubZones.interim)
    val crops = CropJob.run(spark, StubZones.interim, ProductPipeline.SilverGlob,
      StubZones.shr)
    val k = split(col("page_key"), "/")
    crops.select(
      try_element_at(k, lit(1)).as("province"),
      try_element_at(k, lit(2)).as("date_range"),
      try_element_at(k, lit(3)).as("page"),
      col("i"), col("product_name"), col("crop_file"),
      col("crop_w"), col("crop_h"))
      .orderBy("province", "date_range", "page", "i")
  }

  val productCropsSql: String = {
    val pad = BboxOps.padClampSql("b")
    def clampPx(c: String, size: Int): String =
      s"least(greatest(trunc($c), 0), $size)"
    s"""WITH files AS (
       |  SELECT content::JSON AS j, string_split(filename, '/') AS _p
       |  FROM read_text('${ProductPipeline.SilverGlob}')),
       |idx AS (
       |  SELECT _p, j,
       |    unnest(generate_series(0, CAST(json_array_length(j) AS INTEGER) - 1)) AS i
       |  FROM files),
       |prod AS (
       |  SELECT _p[-3] AS province, _p[-2] AS date_range,
       |    regexp_replace(_p[-1], '\\.json$$', '') AS page,
       |    CAST(i AS BIGINT) AS i,
       |    json_extract_string(j, '$$[' || i || '].product_name') AS product_name,
       |    CAST(json_extract(j, '$$[' || i || '].bounding_box') AS INTEGER[]) AS b
       |  FROM idx),
       |valid AS (SELECT * FROM prod WHERE ${BboxOps.isValidSql("b")}),
       |geom AS (
       |  SELECT province, date_range, page, i, product_name,
       |    ${BboxOps.toPixelSql(pad("xmin_pad"), s"$W.0")} AS left_px,
       |    ${BboxOps.toPixelSql(pad("ymin_pad"), s"$H.0")} AS top_px,
       |    ${BboxOps.toPixelSql(pad("xmax_pad"), s"$W.0")} AS right_px,
       |    ${BboxOps.toPixelSql(pad("ymax_pad"), s"$H.0")} AS bottom_px,
       |    coalesce(product_name, 'product_' || i) AS _nm
       |  FROM valid)
       |SELECT province, date_range, page, i, product_name,
       |  i || '_' || ${ProductNormalize.sanitizeFilenameSql("_nm")} || '.jpg' AS crop_file,
       |  CAST(${clampPx("right_px", W)} - ${clampPx("left_px", W)} AS INTEGER) AS crop_w,
       |  CAST(${clampPx("bottom_px", H)} - ${clampPx("top_px", H)} AS INTEGER) AS crop_h
       |FROM geom
       |WHERE ${clampPx("right_px", W)} - ${clampPx("left_px", W)} > 0
       |  AND ${clampPx("bottom_px", H)} - ${clampPx("top_px", H)} > 0
       |ORDER BY province, date_range, page, i""".stripMargin
  }

  // ------------------------------------------------------------------ c3

  /** Perceptual image dedup over the crop images: 64-bit aHash per crop
    * (ImageOps.aHash — real decode, 8×8 luminance threshold) + same-hash
    * group sizes. The multimodal twin of exact text dedup (d1): one Long
    * per image, dup discovery is a groupBy on the hash — pixels never
    * shuffle and are decoded exactly once. Pages render through
    * PhotoRasterizer (seeded gradient+noise), so the hash sees continuous
    * photographic-like luminance, not flat fills. Oracle: the pinned
    * expected-value table [[cropAhashSql]] (DuckDB cannot decode JPEG, so
    * recomputation is impossible — but the pipeline is deterministic, so
    * the expected hashes are constants); pixel-level semantics are
    * spec-tested (determinism, re-encode stability, near-dup across
    * resize, separation of distinct photos).
    */
  /** The photo-rendered crop pipeline with per-crop aHash — c3 and c4's
    * shared first half: render fixture pages through PhotoRasterizer,
    * crop, hash. One row per decodable crop, keyed by the full relative
    * path (the natural stable image id the near-dup pair output names).
    */
  private def photoCropHashes(spark: SparkSession): DataFrame = {
    resetZones()
    FixtureBinaries.writeRawPdfs(StubZones.raw)
    // photographic-ish pages (seeded gradient + noise), not flat stub
    // fills: the perceptual hash must see realistic luminance
    ConvertJob.writeImages(
      ConvertJob.pages(ConvertJob.readPdfs(spark, StubZones.raw), PhotoRasterizer),
      PhotoZones.interim)
    val crops = CropJob.run(spark, PhotoZones.interim, ProductPipeline.SilverGlob,
      PhotoZones.shr)
    val ah = udf((b: Array[Byte]) => ImageOps.aHash(b))
    crops
      .withColumn("ahash", ah(col("crop")))
      // undecodable crops hash to null — they are broken inputs, not a
      // perceptual dup group, and must not collapse into one null bucket
      .filter(col("ahash").isNotNull)
      .select(col("page_key"), col("crop_file"), col("ahash"),
        concat_ws("/", col("page_key"), col("crop_file")).as("img"))
  }

  def cropAhash(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = split(col("page_key"), "/")
    photoCropHashes(spark)
      .withColumn("n_same_hash",
        count(lit(1)).over(Window.partitionBy("ahash")).cast("long"))
      .select(
        try_element_at(k, lit(1)).as("province"),
        try_element_at(k, lit(2)).as("date_range"),
        try_element_at(k, lit(3)).as("page"),
        col("crop_file"),
        format_string("%016x", col("ahash")).as("ahash_hex"),
        col("n_same_hash"))
      .orderBy("province", "date_range", "page", "crop_file")
  }

  /** c3's oracle is an EXPECTED-VALUE table, not a recomputation: DuckDB
    * cannot decode JPEG, but the whole c3 pipeline is deterministic —
    * seeded PhotoRasterizer pages, fixed silver-JSON crop geometry, and
    * in-JVM javax.imageio codecs — so the aHash of every fixture crop is
    * a stable constant. The values were produced by one audited run of
    * the pipeline (and reproduce bit-identically in a fresh session);
    * the determinism contract is scoped to ONE JDK's javax.imageio JPEG
    * codec (this environment's fixed OpenJDK 17) — a different
    * encoder implementation may legitimately shift luminance LSBs, in
    * which case re-pin the constants from one audited run there;
    * pinning them gates hash/codec/geometry regressions and the grouping
    * arithmetic, while the pixel-level SEMANTICS (determinism, re-encode
    * stability, resize tolerance, photo separation) are spec-tested in
    * ImageOpsSpec. Note the real perceptual collision the fixture
    * carries: two near-linear gradient crops from DIFFERENT provinces
    * pool to the same 8×8 sign pattern (n_same_hash = 2) — the
    * cross-page dup group the dedup demo is about.
    */
  val cropAhashSql: String =
    """SELECT * FROM (VALUES
      |  ('Eastern_Cape', '20_February_-_22_February_2026', 'page_1',
      |   '0_Koo_Baked_Beans.jpg', '00000005ffffffff', CAST(1 AS BIGINT)),
      |  ('Eastern_Cape', '20_February_-_22_February_2026', 'page_1',
      |   '1_Koo_Chakalaka_Mild.jpg', '000000007fffffff', 2),
      |  ('Eastern_Cape', '20_February_-_22_February_2026', 'page_1',
      |   '2_Fresh_Coriander_Bunch.jpg', 'fffffffffc000000', 1),
      |  ('Eastern_Cape', '20_February_-_22_February_2026', 'page_1',
      |   '3_Smoked_Ham_100g_x_3.jpg', 'c00000000007ffff', 1),
      |  ('Eastern_Cape', '20_February_-_22_February_2026', 'page_1',
      |   '4_Avo_Single.jpg', 'fffffffffe000000', 1),
      |  ('Gauteng', '13_February_-_15_February_2026', 'page_1',
      |   '0_Clover_Cheese_Assorted.jpg', '000000007fffffff', 2),
      |  ('Gauteng', '13_February_-_15_February_2026', 'page_1',
      |   '1_PnP_UHT_Milk.jpg', 'ffffff8000000000', 1),
      |  ('Gauteng', '13_February_-_15_February_2026', 'page_1',
      |   '2_PnP_UHT_Milk_Chocolate.jpg', 'ffffffe000000000', 1),
      |  ('Gauteng', '13_February_-_15_February_2026', 'page_1',
      |   '3_PnP_UHT_Milk_Strawberry.jpg', 'fffffff400000000', 1),
      |  ('Gauteng', '13_February_-_15_February_2026', 'page_2',
      |   '1_Bulk_Dog_Food.jpg', 'ff0000ffffff0000', 1)
      |) AS t(province, date_range, page, crop_file, ahash_hex, n_same_hash)
      |ORDER BY province, date_range, page, crop_file""".stripMargin

  // ------------------------------------------------------------------ c4

  /** Perceptual NEAR-dup pairs over the crop images — the multimodal twin
    * of d4's SimHash pigeonhole, applied to the 64-bit aHash: any two
    * crops within hamming ≤ [[NearDupHamming]] of each other (the
    * re-encode/resize survivors ImageOpsSpec proves aHash absorbs), found
    * WITHOUT an all-pairs join. Pigeonhole banding: split the 64-bit hash
    * into 4 × 16-bit chunks — 3 differing bits touch at most 3 chunks, so
    * every qualifying pair shares ≥ 1 identical chunk — equi-join on
    * (chunk_idx, chunk_val), then verify the exact hamming distance on
    * the candidates. At 100 TB of images the shuffle moves only (64-bit
    * hash, path) pairs on a 16-bit-chunk key space — pixels were left
    * behind at hash time, and no pairing ever considers images that agree
    * on no chunk (the same measured-at-x100 discipline as d4; PlanSpec
    * asserts no cartesian/nested-loop appears). Oracle: pinned
    * expected-value pairs derived from c3's pinned hash table — same
    * determinism contract, same one-audited-run provenance.
    */
  val NearDupHamming = 3

  def cropNearDups(spark: SparkSession, dir: String): DataFrame = {
    val hashed = photoCropHashes(spark).select("img", "ahash")
    val chunkStructs = (0 until 4).map { c =>
      struct(lit(c).as("ci"),
        shiftrightunsigned(col("ahash"), 16 * c)
          .bitwiseAND(lit(0xFFFFL)).as("cv"))
    }
    val chunks = hashed
      .select(col("img"), col("ahash"), explode(array(chunkStructs: _*)).as("x"))
      .select(col("img"), col("ahash"), col("x.ci").as("ci"), col("x.cv").as("cv"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.img") < col("b.img"))
      .select(col("a.img").as("img1"), col("b.img").as("img2"),
        col("a.ahash").as("h1"), col("b.ahash").as("h2"))
      .distinct()
      .withColumn("hamming", expr("bit_count(h1 ^ h2)").cast("long"))
      .filter(col("hamming") <= NearDupHamming)
      .select("img1", "img2", "hamming")
      .orderBy("img1", "img2")
  }

  /** Pinned pairs (see [[cropAhashSql]]'s determinism contract): every
    * hamming-≤3 pair among the 10 pinned fixture hashes, computed from
    * that same table. The set exercises all the cases that matter: an
    * exact dup across provinces (hamming 0), the resize-scale neighbors
    * (1–2), a boundary pair at exactly 3, and two images that pair with
    * nothing (the other eight all appear in some pair).
    */
  val cropNearDupsSql: String =
    """SELECT * FROM (VALUES
      |  ('Eastern_Cape/20_February_-_22_February_2026/page_1/0_Koo_Baked_Beans.jpg',
      |   'Eastern_Cape/20_February_-_22_February_2026/page_1/1_Koo_Chakalaka_Mild.jpg',
      |   CAST(3 AS BIGINT)),
      |  ('Eastern_Cape/20_February_-_22_February_2026/page_1/0_Koo_Baked_Beans.jpg',
      |   'Gauteng/13_February_-_15_February_2026/page_1/0_Clover_Cheese_Assorted.jpg', 3),
      |  ('Eastern_Cape/20_February_-_22_February_2026/page_1/1_Koo_Chakalaka_Mild.jpg',
      |   'Gauteng/13_February_-_15_February_2026/page_1/0_Clover_Cheese_Assorted.jpg', 0),
      |  ('Eastern_Cape/20_February_-_22_February_2026/page_1/2_Fresh_Coriander_Bunch.jpg',
      |   'Eastern_Cape/20_February_-_22_February_2026/page_1/4_Avo_Single.jpg', 1),
      |  ('Gauteng/13_February_-_15_February_2026/page_1/1_PnP_UHT_Milk.jpg',
      |   'Gauteng/13_February_-_15_February_2026/page_1/2_PnP_UHT_Milk_Chocolate.jpg', 2),
      |  ('Gauteng/13_February_-_15_February_2026/page_1/2_PnP_UHT_Milk_Chocolate.jpg',
      |   'Gauteng/13_February_-_15_February_2026/page_1/3_PnP_UHT_Milk_Strawberry.jpg', 2)
      |) AS t(img1, img2, hamming)
      |ORDER BY img1, img2""".stripMargin

  // -------------------------------------------------------------- x1/x2

  /** In-memory page frame with the {province}/{flyer}/page_N join key —
    * extraction input straight off the PDF fan-out (the binaryFile image
    * round-trip is already exercised by c2).
    */
  private def pagesWithKey(spark: SparkSession): DataFrame = {
    resetZones()
    FixtureBinaries.writeRawPdfs(StubZones.raw)
    ConvertJob.pages(ConvertJob.readPdfs(spark, StubZones.raw))
      .select(concat_ws("/", col("province"), col("flyer"),
        concat(lit("page_"), col("page_number"))).as("page_key"),
        col("image"))
  }

  /** G3 end-to-end: pages → deterministic fixture extractor → tolerant
    * parse → product fan-out with true indices, plus the K3 JSON sink as a
    * side effect. The oracle reads the fixture JSON the extractor replays —
    * so the whole extract stage (keying, parse, explode) must round-trip
    * exactly.
    */
  def extractProducts(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the K3 sink below and the returned product fan-out are
    // two ACTIONS over the same frame, and the extractor UDF is the
    // expensive, in-production-nondeterministic stage — without the cache
    // it runs twice per page and the silver JSON on disk could disagree
    // with the rows returned (ExtractJob.extract's scaladoc contract)
    val extracted = ExtractJob.extract(pagesWithKey(spark), new FixtureExtractor())
      .persist()
    ExtractJob.writeSilver(extracted, StubZones.silver)
    val k = split(col("page_key"), "/")
    ExtractJob.products(extracted).select(
      try_element_at(k, lit(1)).as("province"),
      try_element_at(k, lit(2)).as("date_range"),
      try_element_at(k, lit(3)).as("page"),
      col("i").cast("long").as("i"),
      col("p.product_name").as("product_name"),
      col("p.current_price").as("current_price"),
      col("p.unit").as("unit_raw"),
      col("p.group_id").as("group_id"))
      .orderBy("province", "date_range", "page", "i")
  }

  val extractProductsSql: String =
    s"""WITH files AS (
       |  SELECT content::JSON AS j, string_split(filename, '/') AS _p
       |  FROM read_text('${ProductPipeline.SilverGlob}')),
       |nonempty AS (SELECT * FROM files WHERE json_array_length(j) > 0),
       |idx AS (
       |  SELECT _p, j,
       |    unnest(generate_series(0, CAST(json_array_length(j) AS INTEGER) - 1)) AS i
       |  FROM nonempty)
       |SELECT _p[-3] AS province, _p[-2] AS date_range,
       |  regexp_replace(_p[-1], '\\.json$$', '') AS page,
       |  CAST(i AS BIGINT) AS i,
       |  json_extract_string(j, '$$[' || i || '].product_name') AS product_name,
       |  CAST(json_extract(j, '$$[' || i || '].current_price') AS DOUBLE) AS current_price,
       |  json_extract_string(j, '$$[' || i || '].unit') AS unit_raw,
       |  json_extract_string(j, '$$[' || i || '].group_id') AS group_id
       |FROM idx
       |ORDER BY province, date_range, page, i""".stripMargin

  /** A1: the extractor run tally (ok / empty / parse_failed pages). */
  def extractStatus(spark: SparkSession, dir: String): DataFrame =
    ExtractJob.runCounters(
      ExtractJob.extract(pagesWithKey(spark), new FixtureExtractor()))
      .orderBy("status")

  val extractStatusSql: String =
    s"""SELECT CASE WHEN json_array_length(content::JSON) = 0 THEN 'empty'
       |            ELSE 'ok' END AS status,
       |  count(*) AS n_pages
       |FROM read_text('${ProductPipeline.SilverGlob}')
       |GROUP BY 1
       |ORDER BY status""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_pdf_pages" -> (pdfPages _),
    "c2_product_crops" -> (productCrops _),
    "c3_crop_ahash" -> (cropAhash _),
    "c4_crop_near_dups" -> (cropNearDups _),
    "x1_extract_products" -> (extractProducts _),
    "x2_extract_status" -> (extractStatus _))

  val oracles: Map[String, String] = Map(
    "c1_pdf_pages" -> pdfPagesSql,
    "c2_product_crops" -> productCropsSql,
    "c3_crop_ahash" -> cropAhashSql,
    "c4_crop_near_dups" -> cropNearDupsSql,
    "x1_extract_products" -> extractProductsSql,
    "x2_extract_status" -> extractStatusSql)
}
