package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.WorkDirs

class ConvertCropSpec extends SparkTestBase {

  private val SilverGlob = WorkDirs.fixture("silver/PnP/*/*/*.json")

  test("stub rasterizer: page count parses real PDF object structure") {
    assert(StubRasterizer.pageCount(FixtureBinaries.minimalPdf(1)) === 1)
    assert(StubRasterizer.pageCount(FixtureBinaries.minimalPdf(7)) === 7)
    val pages = StubRasterizer.rasterize(FixtureBinaries.minimalPdf(3))
    assert(pages.length === 3)
    pages.foreach { jpeg =>
      // real JPEG bytes: SOI marker + decodable at stub dimensions
      assert((jpeg(0) & 0xff) === 0xff && (jpeg(1) & 0xff) === 0xd8)
      assert(ImageOps.decodeDims(jpeg) ===
        Some((StubRasterizer.PageWidth, StubRasterizer.PageHeight)))
    }
  }

  test("ConvertJob: binaryFile scan -> per-page rows -> image sink files (S3/G2/K2)") {
    val raw = scratch("convert-raw")
    val interim = scratch("convert-interim")
    FixtureBinaries.writeRawPdfs(raw)
    val pages = ConvertJob.run(spark, raw, interim)
    assert(pages.count() === 4) // 2 fixture PDFs x 2 pages
    assert(Files.exists(Paths.get(
      s"$interim/PnP/Gauteng/13_February_-_15_February_2026/page_1.jpg")))
    assert(Files.exists(Paths.get(
      s"$interim/PnP/Eastern_Cape/20_February_-_22_February_2026/page_2.jpg")))
  }

  test("CropJob: J1 join + real javax.imageio crops with reference geometry (P11/P13/K5)") {
    val raw = scratch("crop-raw")
    val interim = scratch("crop-interim")
    val shr = scratch("crop-shr")
    FixtureBinaries.writeRawPdfs(raw)
    ConvertJob.run(spark, raw, interim)
    val crops = CropJob.run(spark, interim, SilverGlob, shr).cache()
    try {
      assert(crops.count() === 10) // valid-bbox products on existing pages
      // full-page box [0,0,1000,1000] clamps -> whole stub page
      val bulk = crops.filter(col("product_name") === "Bulk Dog Food").collect()(0)
      assert(bulk.getAs[Int]("crop_w") === StubRasterizer.PageWidth)
      assert(bulk.getAs[Int]("crop_h") === StubRasterizer.PageHeight)
      // crop bytes are decodable JPEGs matching the reported dims
      crops.collect().foreach { r =>
        val bytes = r.getAs[Array[Byte]]("crop")
        assert(ImageOps.decodeDims(bytes) ===
          Some((r.getAs[Int]("crop_w"), r.getAs[Int]("crop_h"))))
      }
      // crop sink file naming: {i}_{sanitized}.jpg under the page key (P12/K5)
      assert(Files.exists(Paths.get(
        s"$shr/PnP/Gauteng/13_February_-_15_February_2026/page_1/0_Clover_Cheese_Assorted.jpg")))
      // invalid bboxes (null / wrong arity) never produce crops (F5)
      assert(crops.filter(col("product_name") === "Sugar Beans").count() === 0)
    } finally crops.unpersist()
  }

  test("a re-run reads the CURRENT zone, not a previous run's cached crops") {
    // Spark's CacheManager matches by analyzed plan: two CropJob.run calls
    // over the same paths have identical plans, so without the refresh the
    // second run would serve the FIRST run's pixels after the interim zone
    // was re-rendered — the stale-cache class that once fed stub pixels to
    // the perceptual-hash dedup (c3).
    val raw = scratch("croprerun-raw")
    val interim = scratch("croprerun-interim")
    val shr = scratch("croprerun-shr")
    FixtureBinaries.writeRawPdfs(raw)
    ConvertJob.run(spark, raw, interim)
    def firstCrop(df: org.apache.spark.sql.DataFrame): Array[Byte] =
      try df.orderBy("page_key", "i").select("crop").head().getAs[Array[Byte]](0)
      finally df.unpersist()
    val v1 = firstCrop(CropJob.run(spark, interim, SilverGlob, shr))
    // re-render the SAME zone with different pixels (photo vs stub)
    graft.core.FsUtil.deleteRecursively(interim)
    ConvertJob.writeImages(
      ConvertJob.pages(ConvertJob.readPdfs(spark, raw), PhotoRasterizer), interim)
    val v2 = firstCrop(CropJob.run(spark, interim, SilverGlob, shr))
    assert(!java.util.Arrays.equals(v1, v2),
      "second run must re-read the re-rendered zone, not the cached crops")
  }

  test("crop join broadcasts the metadata side so image bytes never shuffle") {
    val raw = scratch("cropplan-raw")
    val interim = scratch("cropplan-interim")
    FixtureBinaries.writeRawPdfs(raw)
    ConvertJob.run(spark, raw, interim)
    val plan = CropJob.crops(
      CropJob.pagesWithKey(CropJob.readImages(spark, interim)),
      CropJob.productsWithKey(spark, SilverGlob))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("only ABSENT (null) product names fall back to product_<i>; all-special names keep the reference's i_.jpg") {
    import spark.implicits._
    val raw = scratch("emptyname-raw")
    val interim = scratch("emptyname-interim")
    FixtureBinaries.writeRawPdfs(raw)
    ConvertJob.run(spark, raw, interim)
    val pages = CropJob.pagesWithKey(CropJob.readImages(spark, interim))
    val key = pages.select("page_key").head().getString(0)
    // the reference's `.get("product_name", f"product_{i}")` defaults only
    // on a MISSING key, and its sanitizer has no falsiness check — "" and
    // "???" both sanitize to "" and the reference emits the degenerate
    // "<i>_.jpg" (pnp-cropperLambda.py:88-92); the oracle twins
    // (productCropsSql / cropSpecSql) coalesce on NULL only, and this
    // pipeline must stay bit-identical to both
    val products = Seq(
      (key, 0, "", Seq(10.0, 10.0, 60.0, 60.0)),
      (key, 1, "???", Seq(10.0, 10.0, 60.0, 60.0)),
      (key, 2, null: String, Seq(10.0, 10.0, 60.0, 60.0)))
      .toDF("page_key", "i", "product_name", "bbox")
    val files = CropJob.crops(pages, products)
      .select("i", "crop_file").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(files === Map(0L -> "0_.jpg", 1L -> "1_.jpg",
      2L -> "2_product_2.jpg"), s"wrong fallback names: $files")
  }

  test("binary sinks write through the path's own filesystem (scheme-qualified roots)") {
    // java.nio Paths.get("file:/...") treats the scheme as a path segment
    // and silently writes a RELATIVE local path — the executor-side twin
    // of the export zone's r13 metadata hazard; the Hadoop FS route must
    // land the bytes at the real root
    val raw = scratch("scheme-sink-raw")
    val interimLocal = scratch("scheme-sink-interim")
    FixtureBinaries.writeRawPdfs(raw)
    ConvertJob.run(spark, raw, "file:" + interimLocal)
    assert(Files.exists(Paths.get(
      s"$interimLocal/PnP/Gauteng/13_February_-_15_February_2026/page_1.jpg")),
      "scheme-qualified sink did not land at the real root")
  }
}
