package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Page-image → product-rows extraction (G3 — the reference's vision-LLM
  * stage, `vision_parser/pnp-vision-parserLambda.py:93-164`): the one
  * nondeterministic stage in the reference, so it is interface-isolated
  * behind [[VisionExtractor]] (SURVEY §7.4 item 1) — production would plug
  * an LLM client (rate-limit/key rotation is client policy, §2.10), tests
  * and fixtures use the deterministic replay impl. Extraction output is
  * parsed tolerantly (P15: `from_json` PERMISSIVE — unparseable output
  * quarantines as a `parse_failed` row instead of failing the job, the
  * engine-native version of the reference's try/except JSON repair).
  */
trait VisionExtractor extends Serializable {
  /** Raw extractor output for one page: a JSON array string of product
    * objects (the LLM response body in the reference).
    */
  def extract(imageBytes: Array[Byte], pageKey: String): String
}

/** Deterministic replay extractor: answers with the checked-in silver
  * fixture for the page key (FIXTURES.md A1), `[]` for unknown pages —
  * `DeterministicFixtureExtractor` per SURVEY §7.1 step 6.
  */
class FixtureExtractor(fixtureRoot: String = graft.core.WorkDirs.fixture("silver/PnP"))
    extends VisionExtractor {
  override def extract(imageBytes: Array[Byte], pageKey: String): String = {
    val p = Paths.get(s"$fixtureRoot/$pageKey.json")
    if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8") else "[]"
  }
}

object ExtractJob {

  /** One row per page: raw extractor output + tolerantly-parsed product
    * array + a status column. The extractor call is a plain UDF (opaque
    * client work, SURVEY §2.11); a per-partition pooled client would move
    * it to mapPartitions without changing the frame contract.
    *
    * The UDF is marked NONDETERMINISTIC: the production impl is an LLM
    * call, and a deterministic marking would license Catalyst to
    * duplicate, re-order, or collapse invocations — two "copies" of the
    * same call could then disagree inside one plan. Across ACTIONS the
    * frame still re-executes like any frame; a caller consuming it more
    * than once (e.g. the K3 sink plus a product fan-out) must persist it,
    * or the silver JSON on disk and the rows it returns come from two
    * different extractor runs — lineage corruption at double API cost.
    */
  def extract(pages: DataFrame, extractor: VisionExtractor): DataFrame = {
    val ex = udf((img: Array[Byte], key: String) => extractor.extract(img, key))
      .asNondeterministic()
    pages
      .select(col("page_key"), ex(col("image"), col("page_key")).as("raw_json"))
      .withColumn("products",
        from_json(col("raw_json"), ArrayType(ProductSchema.silver)))
      .withColumn("status",
        when(col("products").isNull, lit("parse_failed"))
          .when(size(col("products")) === 0, lit("empty"))
          .otherwise(lit("ok")))
  }

  /** Product fan-out (G3's 1→N): one row per extracted product with its
    * true array index.
    */
  def products(extracted: DataFrame): DataFrame =
    extracted
      .filter(col("status") === "ok")
      .select(col("page_key"), posexplode(col("products")).as(Seq("i", "p")))

  /** A1: the reference's processed/empty/failed run tally
    * (`pnp-vision-parser.py:122-145`) as a one-line aggregation.
    */
  def runCounters(extracted: DataFrame): DataFrame =
    extracted.groupBy("status").agg(count(lit(1)).as("n_pages"))

  /** K3: JSON sink — one silver-zone document per page, written from the
    * executors (`vision_parserLambda.py:83-91` writes the same layout).
    */
  def writeSilver(extracted: DataFrame, silverRoot: String): Unit = {
    import org.apache.spark.sql.Row
    val hconf = ExecutorFs.capture(extracted.sparkSession)
    extracted.select("page_key", "raw_json")
      .foreachPartition { rows: Iterator[Row] =>
        // Hadoop FS, not java.nio: a scheme'd silver root must reach the
        // real filesystem, not a relative local path (see ExecutorFs)
        ExecutorFs.writeFiles(rows, hconf,
          r => if (r.isNullAt(0)) null else s"$silverRoot/PnP/${r.getString(0)}.json",
          _.getString(1).getBytes("UTF-8"))
      }
  }
}
