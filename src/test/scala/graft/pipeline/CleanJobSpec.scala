package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.WorkDirs

/** Golden end-to-end tests of the clean job over the checked-in silver
  * fixtures, plus the partitioned-sink semantics the reference relies on
  * (`overwrite_partitions`, `pnp-cleanerLambda.py:116`).
  */
class CleanJobSpec extends SparkTestBase {

  private val SilverGlob = WorkDirs.fixture("silver/PnP/*/*/*.json")

  private def cleanedFixtures =
    CleanJob.clean(CleanJob.readSilver(spark, SilverGlob))

  test("golden: fixture silver -> 13 conformed rows with reference semantics") {
    val rows = cleanedFixtures.collect()
    assert(rows.length === 13)
    val byName = rows.map(r => r.getAs[String]("product_name") -> r).toMap

    // brand normalization (P5)
    assert(byName("PnP UHT Milk").getAs[String]("brand") === "PnP")
    assert(byName("Koo Baked Beans").getAs[String]("brand") === "Koo")
    assert(byName("Bulk Dog Food").getAs[String]("brand") === "no name")
    assert(byName("Avo Single").getAs[String]("brand") === "Westfalia")
    // unit normalization (P6): magnitude branch + synonym map
    assert(byName("Bulk Dog Food").getAs[String]("unit") === "kg")
    assert(byName("Sugar Beans").getAs[String]("unit") === "g")
    assert(byName("PnP UHT Milk Strawberry").getAs[String]("unit") === "litre")
    assert(byName("Fresh Coriander Bunch").getAs[String]("unit") === "bunch")
    // weight_volume force-string (P7): int stays "550", float keeps ".0"
    assert(byName("Clover Cheese Assorted").getAs[String]("weight_volume") === "550")
    assert(byName("Koo Chakalaka Mild").getAs[String]("weight_volume") === "410.0")
    // conformance (P4): absent keys -> nulls; group_id fill (P8)
    val mystery = byName("Mystery Item")
    assert(mystery.getAs[String]("brand") === null)
    assert(mystery.getAs[String]("group_id") === "UNKNOWN")
    // path-derived partition + lineage columns (P3/P9)
    assert(mystery.getAs[String]("province") === "Gauteng")
    assert(mystery.getAs[String]("date_range") === "13_February_-_15_February_2026")
    assert(mystery.getAs[String]("source_file") === "page_2.json")
    // fixed column order (P10)
    assert(cleanedFixtures.columns.toSeq === ProductSchema.cleanColumns)
  }

  test("empty-array silver file contributes zero rows (F4)") {
    val ec = cleanedFixtures.filter(col("province") === "Eastern_Cape")
    assert(ec.filter(col("source_file") === "page_2.json").count() === 0)
  }

  test("partitioned sink lays out hive-style dirs (K4)") {
    val root = scratch("clean-layout")
    CleanJob.writeClean(cleanedFixtures, root)
    assert(Files.exists(Paths.get(
      s"$root/province=Gauteng/date_range=13_February_-_15_February_2026")))
    assert(Files.exists(Paths.get(
      s"$root/province=Eastern_Cape/date_range=20_February_-_22_February_2026")))
    assert(spark.read.parquet(root).count() === 13)
    // partition filters prune at the file index, not per-row (the layout's
    // entire reason to exist: "for Athena performance" in the reference)
    val plan = spark.read.parquet(root)
      .filter(col("province") === "Gauteng")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(province"),
      "province filter did not reach the partition index")
  }

  test("dynamic partition overwrite rewrites ONLY the partitions present in the batch") {
    val root = scratch("clean-overwrite")
    CleanJob.writeClean(cleanedFixtures, root)
    // re-clean ONE file (one partition) with one row dropped
    val gauteng = CleanJob.clean(CleanJob.readSilver(
      spark, WorkDirs.fixture("silver/PnP/Gauteng/*/page_2.json")))
      .filter(col("product_name") =!= "Mystery Item")
    CleanJob.writeClean(gauteng, root)
    val after = spark.read.parquet(root)
    // untouched partition intact
    assert(after.filter(col("province") === "Eastern_Cape").count() === 5)
    // touched partition fully replaced: page_1 rows gone (not in the batch),
    // page_2 re-delivered minus the dropped row
    val gp = after.filter(col("province") === "Gauteng")
    assert(gp.count() === 3)
    assert(gp.filter(col("product_name") === "Mystery Item").count() === 0)
  }

  test("idempotent re-delivery: same batch twice -> same rows (streaming sink contract)") {
    val root = scratch("clean-idem")
    CleanJob.writeClean(cleanedFixtures, root)
    CleanJob.writeClean(cleanedFixtures, root)
    assert(spark.read.parquet(root).count() === 13)
  }

  test("catalog sink registers a queryable partitioned table (K6)") {
    // NO pre-cleanup here: the in-memory catalog forgets tables between
    // JVMs while the warehouse dir persists, so re-running this suite is
    // itself the regression test for writeCleanAsTable's internal
    // drop-and-clear (a leftover orphan dir must not fail the write)
    CleanJob.writeCleanAsTable(cleanedFixtures, "products_clean_test")
    // and registering TWICE in one session must also succeed (overwrite)
    CleanJob.writeCleanAsTable(cleanedFixtures, "products_clean_test")
    val n = spark.sql(
      "SELECT count(*) FROM products_clean_test WHERE province = 'Gauteng'")
      .collect()(0).getLong(0)
    assert(n === 8)
    assert(spark.sql("SHOW PARTITIONS products_clean_test").count() === 2)
  }

  test("corrupt silver input quarantines with raw text; clean zone excludes it (§7.4 item 6)") {
    val silver = scratch("clean-corrupt")
    val dir = Paths.get(s"$silver/Gauteng/13_February_-_15_February_2026")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("page_1.json"),
      """[{"product_name":"Good","current_price":1.0}]""")
    Files.writeString(dir.resolve("page_2.json"), "llm said: oops {{{")
    val read = CleanJob.readSilver(spark, s"$silver/*/*/*.json")
    val q = CleanJob.quarantined(read).collect()
    assert(q.length === 1)
    assert(q(0).getAs[String]("raw").contains("oops"))
    assert(q(0).getAs[String]("src_path").endsWith("page_2.json"))
    val cleanRows = CleanJob.clean(read).collect()
    assert(cleanRows.length === 1)
    assert(cleanRows(0).getAs[String]("product_name") === "Good")
  }

  test("empty objects inside valid arrays quarantine with reason, never vanish") {
    val silver = scratch("clean-emptyobj")
    val dir = Paths.get(s"$silver/Gauteng/13_February_-_15_February_2026")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("page_1.json"),
      """[{"product_name":"Good","current_price":1.0}, {}]""")
    val read = CleanJob.readSilver(spark, s"$silver/*/*/*.json")
    // clean + quarantined partition the input: 1 clean row, 1 quarantined
    assert(CleanJob.clean(read).count() === 1)
    val q = CleanJob.quarantined(read).collect()
    assert(q.length === 1)
    assert(q(0).getAs[String]("reason") === "empty_object")
    assert(q(0).getAs[String]("raw") === null)
  }

  test("mergeWriteClean swaps via temp root and leaves no residue") {
    val root = scratch("clean-merge-atomic")
    val gauteng = CleanJob.clean(CleanJob.readSilver(
      spark, WorkDirs.fixture("silver/PnP/Gauteng/*/page_1.json")))
    CleanJob.mergeWriteClean(gauteng, root)
    assert(spark.read.parquet(root).count() === 4)
    // second file, same partition: merge keeps the sibling's rows
    val page2 = CleanJob.clean(CleanJob.readSilver(
      spark, WorkDirs.fixture("silver/PnP/Gauteng/*/page_2.json")))
    CleanJob.mergeWriteClean(page2, root)
    assert(spark.read.parquet(root).count() === 8)
    // the temp merge root is gone and nothing parked inside the live zone
    assert(!Files.exists(Paths.get(s"$root.__merge_tmp")))
    import scala.jdk.CollectionConverters._
    val stray = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.getFileName.toString.contains("__old")).toSeq
    assert(stray.isEmpty)
  }

  test("mergeWriteClean recovers a partition parked by a mid-swap crash") {
    val root = scratch("clean-merge-recover")
    val page1 = CleanJob.clean(CleanJob.readSilver(
      spark, WorkDirs.fixture("silver/PnP/Gauteng/*/page_1.json")))
    CleanJob.mergeWriteClean(page1, root)
    assert(spark.read.parquet(root).count() === 4)
    // simulate a crash between park and install: the live partition dir is
    // parked under the temp root and the live zone no longer has it
    val rel = "province=Gauteng/date_range=13_February_-_15_February_2026"
    val parked = Paths.get(s"$root.__merge_tmp/$rel.__old")
    Files.createDirectories(parked.getParent)
    Files.move(Paths.get(s"$root/$rel"), parked)
    // the streaming retry re-runs the same batch: recovery must restore the
    // parked pre-batch state BEFORE clearing the temp root, then re-merge
    CleanJob.mergeWriteClean(page1, root)
    assert(spark.read.parquet(root).count() === 4)
    // sibling-file rows survive the recovered partition on the next merge
    val page2 = CleanJob.clean(CleanJob.readSilver(
      spark, WorkDirs.fixture("silver/PnP/Gauteng/*/page_2.json")))
    CleanJob.mergeWriteClean(page2, root)
    assert(spark.read.parquet(root).count() === 8)
    assert(!Files.exists(Paths.get(s"$root.__merge_tmp")))
  }

  test("mergeWriteClean swaps through the session's Hadoop conf, as its write does") {
    // a scheme bound only in the session conf: Spark's merge write resolves
    // it, so the swap that installs what the write wrote must resolve it too
    val root = scratch("clean-merge-session-scheme")
    val key = s"fs.${SessionSchemeFs.Scheme}.impl"
    spark.conf.set(key, classOf[SessionSchemeFs].getName)
    try {
      val page1 = CleanJob.clean(CleanJob.readSilver(
        spark, WorkDirs.fixture("silver/PnP/Gauteng/*/page_1.json")))
      CleanJob.mergeWriteClean(page1, s"${SessionSchemeFs.Scheme}://$root")
      assert(spark.read.parquet(root).count() === 4)
      assert(!Files.exists(Paths.get(s"$root.__merge_tmp")))
    } finally spark.conf.unset(key)
  }

  test("schema drift: unknown extra keys are ignored, known keys still conform (§7.4 item 6)") {
    val silver = scratch("clean-drift")
    val dir = Paths.get(s"$silver/Gauteng/13_February_-_15_February_2026")
    Files.createDirectories(dir)
    // the LLM extractor added fields nobody asked for — conformance must
    // project them away without error and keep every contracted column
    Files.writeString(dir.resolve("page_1.json"),
      """[{"product_name":"Drifty","current_price":9.99,
        |  "llm_confidence":0.87,"extra_nested":{"a":[1,2]},"emoji":"✨"}]""".stripMargin)
    val rows = CleanJob.clean(CleanJob.readSilver(spark, s"$silver/*/*/*.json")).collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("product_name") === "Drifty")
    assert(rows(0).getAs[Double]("current_price") === 9.99)
    assert(rows(0).schema.fieldNames.toSeq === ProductSchema.cleanColumns)
  }

  test("malformed paths quarantine as null partition columns, not errors (F6)") {
    import spark.implicits._
    val df = Seq("""{"product_name":"X","current_price":1.0}""").toDS()
    val parsed = spark.read.schema(ProductSchema.silver).json(df)
      .withColumn("_src_path", lit("shallow.json"))
    val r = CleanJob.clean(parsed).collect()(0)
    assert(r.getAs[String]("province") === null)
    assert(r.getAs[String]("source_file") === "shallow.json")
  }

  test("batch run() lands quarantine rows beside the clean zone, like the stream") {
    // the batch backfill used to write ONLY the clean zone: a corrupt
    // silver file left no trace anywhere — the streaming path's
    // nothing-silently-disappears contract, broken on the batch half
    val silverRoot = scratch("brun-silver")
    val good = """[{"product_name":"Milk","brand":"clover","current_price":12.5}]"""
    val bad = """{"product_name": "Broken"""
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$silverRoot/Gauteng/1_Jan_-_2_Jan_2026"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$silverRoot/Gauteng/1_Jan_-_2_Jan_2026/p1.json"),
      good.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$silverRoot/Gauteng/1_Jan_-_2_Jan_2026/p2.json"),
      bad.getBytes("UTF-8"))
    val cleanRoot = scratch("brun-clean")
    // the quarantine zone is a SIBLING of cleanRoot (append-mode log), so
    // scratch()'s per-run wipe of cleanRoot never clears it
    graft.core.FsUtil.deleteRecursively(s"${cleanRoot}_quarantine")
    val out = CleanJob.run(spark, s"$silverRoot/*/*/*.json", cleanRoot)
    assert(out.count() === 1)
    val q = spark.read.parquet(s"${cleanRoot}_quarantine").collect()
    assert(q.length === 1)
    assert(q(0).getAs[String]("reason") === "unparseable")
    assert(q(0).getAs[String]("src_path").endsWith("p2.json"))
  }

  test("mergeWriteClean fails loudly on an unreadable existing zone instead of discarding it") {
    import spark.implicits._
    // an AnalysisException from reading the live zone used to be treated
    // as "first batch": the merge basis silently became empty and the
    // swap installed batch-only partition dirs over live ones. A zone
    // that EXISTS but cannot serve the clean columns must fail the batch.
    val cleanRoot = scratch("merge-evolved")
    // a populated "zone" whose schema lacks the clean columns entirely
    Seq((1, "x")).toDF("a", "b").write.mode("overwrite")
      .partitionBy("b").parquet(cleanRoot)
    val batch = CleanJob.clean(
      CleanJob.readSilver(spark, SilverGlob))
    intercept[org.apache.spark.sql.AnalysisException] {
      CleanJob.mergeWriteClean(batch, cleanRoot)
    }
    // the live (albeit foreign-schema) data survived the refusal
    assert(spark.read.parquet(cleanRoot).count() === 1)
  }
}

/** The raw local filesystem under a scheme of its own, so a test can bind
  * a scheme in one session's conf and nowhere else.
  */
class SessionSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SessionSchemeFs.Scheme}:///")
  override def getScheme: String = SessionSchemeFs.Scheme
}

object SessionSchemeFs {
  val Scheme = "graftsession"
}
