package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.WorkDirs

class ExtractJobSpec extends SparkTestBase {

  /** Extractor with controllable per-page behavior: valid page, empty page,
    * and LLM-garbage output (the P15 tolerant-parse path).
    */
  private object ScriptedExtractor extends VisionExtractor {
    override def extract(imageBytes: Array[Byte], pageKey: String): String =
      pageKey match {
        case k if k.endsWith("page_1") =>
          """[{"product_name":"A","current_price":1.5},{"product_name":"B","current_price":2.0}]"""
        case k if k.endsWith("page_2") => "[]"
        case _ => "this is not json {{{"
      }
  }

  private def pages = {
    import spark.implicits._
    Seq("P/F/page_1", "P/F/page_2", "P/F/page_3")
      .map(k => (k, Array[Byte](1, 2, 3))).toDF("page_key", "image")
  }

  test("tolerant parse quarantines garbage as parse_failed instead of crashing (P15)") {
    val ex = ExtractJob.extract(pages, ScriptedExtractor)
    val statuses = ex.select("page_key", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses("P/F/page_1") === "ok")
    assert(statuses("P/F/page_2") === "empty")
    assert(statuses("P/F/page_3") === "parse_failed")
  }

  test("product fan-out keeps true array indices and only ok pages (G3)") {
    val rows = ExtractJob.products(ExtractJob.extract(pages, ScriptedExtractor))
      .select(col("page_key"), col("i"), col("p.product_name"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows.sorted === Seq(("P/F/page_1", 0, "A"), ("P/F/page_1", 1, "B")))
  }

  test("run counters tally page statuses (A1)") {
    val counts = ExtractJob.runCounters(ExtractJob.extract(pages, ScriptedExtractor))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("ok" -> 1L, "empty" -> 1L, "parse_failed" -> 1L))
  }

  test("JSON sink writes one silver document per page, byte-identical to extractor output (K3)") {
    val root = scratch("extract-silver")
    ExtractJob.writeSilver(ExtractJob.extract(pages, ScriptedExtractor), root)
    val written = Files.readString(Paths.get(s"$root/PnP/P/F/page_1.json"))
    assert(written === ScriptedExtractor.extract(Array.emptyByteArray, "P/F/page_1"))
  }

  test("fixture extractor replays the checked-in silver zone exactly") {
    val ex = new FixtureExtractor()
    val key = "Gauteng/13_February_-_15_February_2026/page_1"
    val expected = Files.readString(
      Paths.get(WorkDirs.fixture(s"silver/PnP/$key.json")))
    assert(ex.extract(Array.emptyByteArray, key) === expected)
    assert(ex.extract(Array.emptyByteArray, "No/Such/page_9") === "[]")
  }
}
