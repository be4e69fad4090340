package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ProductNormalize

/** The reference's relational core, Spark-first: silver-zone product JSON →
  * schema conformance → normalization → lineage → Hive-partitioned parquet
  * with dynamic partition overwrite (reference
  * `data_cleaner/pnp-cleanerLambda.py:50-121`; SURVEY §7.1 step 3, §7.2).
  *
  * Differences from the reference, by design (all Spark-native):
  *  - conformance is the schema on the scan, not a column loop: a permissive
  *    read against ProductSchema.silver nulls missing fields for free;
  *  - partition/lineage columns derive from input_file_name(), not an event
  *    payload — the multi-file scan IS the "for each S3 event" loop;
  *  - idempotent per-partition replace is one conf
  *    (partitionOverwriteMode=dynamic) + partitionBy, replacing
  *    `mode="overwrite_partitions"`.
  *
  * At scale: the whole job is scan → narrow projections → write. Zero
  * shuffles; parallelism = input file splits; each task writes only the
  * partitions it holds rows for.
  */
object CleanJob {

  /** Read silver product JSON (array-rooted files) with the conforming
    * schema. One row per product; `_src_path` carries lineage (G4 + S6 +
    * P4). Unparseable files land as quarantine rows with the raw text in
    * `_corrupt_record` (the reference logs-and-skips; capturing is strictly
    * better — nothing silently disappears).
    */
  def readSilver(spark: SparkSession, silverGlob: String): DataFrame =
    spark.read
      .schema(ProductSchema.silverWithCorrupt)
      .option("multiLine", "true") // array-rooted documents, one array per file
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", ProductSchema.CorruptColumn)
      .json(silverGlob)
      .withColumn("_src_path", input_file_name())

  /** True when no expected column parsed — a corrupt file's capture row or
    * an empty object. Referencing the data columns (not just the corrupt
    * column) keeps the predicate legal on a raw JSON scan (Spark forbids
    * corrupt-column-only queries) and prune-proof under count()-style plans.
    */
  private def nothingParsed: org.apache.spark.sql.Column =
    ProductSchema.expectedColumns.map(col(_).isNull).reduce(_ && _)

  /** The quarantine view: every silver row excluded from the clean zone,
    * with why (F6's sibling for content rather than paths). Two routes:
    * `unparseable` = the file failed to parse (raw text captured in
    * `_corrupt_record`); `empty_object` = a syntactically-valid object with
    * none of the expected keys (e.g. `{}` inside a valid array — parses
    * clean, carries nothing). Together with clean() this partitions the
    * input: nothing silently disappears.
    */
  def quarantined(silver: DataFrame): DataFrame =
    silver.filter(nothingParsed)
      .select(col("_src_path").as("src_path"),
        col(ProductSchema.CorruptColumn).as("raw"),
        when(col(ProductSchema.CorruptColumn).isNotNull, "unparseable")
          .otherwise("empty_object").as("reason"))

  /** Path→column extraction (P3/F6): .../{province}/{date_range}/{file}.json,
    * indexed from the end so any root prefix works. Malformed paths yield
    * nulls (try_element_at), the quarantine-not-crash route.
    */
  private def pathPart(idxFromEnd: Int): Column =
    try_element_at(split(col("_src_path"), "/"), lit(-idxFromEnd))

  /** The cleaner transform (P4–P10): normalize brand/unit, force
    * weight_volume to string, fill group_id, attach partition + lineage
    * columns, project to the fixed 13-column order.
    */
  def clean(silver: DataFrame): DataFrame =
    silver
      // rows where nothing parsed (corrupt-file capture rows, empty
      // objects) go to quarantined(), never into the clean zone
      .filter(!nothingParsed)
      .withColumn("brand", ProductNormalize.normalizeBrand(col("brand")))
      .withColumn("unit", ProductNormalize.normalizeUnit(col("unit")))
      .withColumn("weight_volume", col("weight_volume").cast("string"))
      .withColumn("group_id", coalesce(col("group_id"), lit("UNKNOWN")))
      .withColumn("province", pathPart(3))
      .withColumn("date_range", pathPart(2))
      .withColumn("source_file", pathPart(1))
      .select(ProductSchema.cleanColumns.map(col): _*)

  /** Clean-zone sink (K4): Hive-partitioned parquet, dynamic partition
    * overwrite — re-running over one input file rewrites ONLY that file's
    * (province, date_range) partition, the reference's
    * `overwrite_partitions` semantics.
    */
  def writeClean(df: DataFrame, cleanRoot: String): Unit = {
    df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.write
      .mode("overwrite")
      .partitionBy(ProductSchema.partitionColumns: _*)
      .parquet(cleanRoot)
  }

  /** Per-SOURCE-FILE idempotent replace into the partitioned clean zone,
    * for file-granular streaming arrivals: rows of the touched partitions
    * that came from OTHER source files are retained; rows from the batch's
    * own source files are replaced. The reference's cleaner lacks this — a
    * single page event rewrites the whole (province, date_range) partition
    * and clobbers sibling pages (`pnp-cleanerLambda.py:111-119` with a
    * one-file frame); partition-granular replace is only safe when a batch
    * carries a partition's complete contents, which streaming batches
    * don't. Merge keeps re-delivery idempotent WITHOUT the data loss.
    *
    * Crash safety: the merged result is written to a TEMP root first (so the
    * plan never overwrites the files it reads — no checkpoint needed), then
    * each touched partition directory is swapped into the live zone via
    * rename. A crash mid-swap leaves at most one partition absent from the
    * live zone, with its old contents parked intact under the temp root —
    * nothing is destroyed until its replacement is in place, unlike an
    * in-place dynamic partition overwrite, which deletes live data before
    * the rewrite completes. On the next invocation (the streaming retry),
    * [[recoverParked]] runs FIRST: any parked partition whose live
    * directory is missing is renamed back before the temp root is cleared,
    * restoring the pre-batch state; the retry then re-merges idempotently
    * (already-applied batch rows are keyed out by source_file before the
    * union). Every rename/mkdirs is checked — Hadoop FileSystem signals
    * failure by returning false, and an unchecked false here would corrupt
    * the zone silently.
    */
  def mergeWriteClean(cleanedBatch: DataFrame, cleanRoot: String): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val spark = cleanedBatch.sparkSession
    val tmpRoot = new HPath(s"$cleanRoot.__merge_tmp")
    val livePath = new HPath(cleanRoot)
    val fs = FileSystem.get(livePath.toUri, spark.sessionState.newHadoopConf())
    // restore any partition a previous crash left parked BEFORE reading the
    // zone or clearing the temp root — the parked copy may be the only one
    recoverParked(fs, tmpRoot, livePath)
    fs.delete(tmpRoot, true)

    val keys = cleanedBatch
      .select("province", "date_range", "source_file").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    if (keys.isEmpty) return
    val partitions = keys.map(k => (k._1, k._2)).distinct
    // decide "first batch" by LOOKING at the zone (one listing), never by
    // catching AnalysisException from the read: that exception also covers
    // a schema-evolved zone missing a clean column or a corrupted
    // partition that breaks inference, and treating those as "no zone yet"
    // would merge against an EMPTY basis and install batch-only partition
    // dirs over live ones -- silently deleting every retained row this
    // merge exists to keep. A zone that exists but cannot be read must
    // fail the batch loudly (the streaming retry re-runs it).
    val zoneHasData = fs.exists(livePath) &&
      fs.listStatus(livePath).exists(st =>
        st.isDirectory && st.getPath.getName.contains("="))
    val existing =
      if (!zoneHasData)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          cleanedBatch.schema)
      else {
        val sep = "\u0001" // never appears in path-derived values
        val fileKey = concat_ws(sep,
          col("province"), col("date_range"), col("source_file"))
        spark.read.parquet(cleanRoot)
          .filter(partitions.map { case (p, d) =>
            col("province") === p && col("date_range") === d
          }.reduce(_ || _))
          .filter(!fileKey.isin(keys.map(k => s"${k._1}$sep${k._2}$sep${k._3}"): _*))
          .select(ProductSchema.cleanColumns.map(col): _*)
      }
    val merged = existing
      .union(cleanedBatch.select(ProductSchema.cleanColumns.map(col): _*))

    merged.write
      .mode("overwrite")
      .partitionBy(ProductSchema.partitionColumns: _*)
      .parquet(tmpRoot.toString)
    check(fs.mkdirs(livePath), s"mkdirs $livePath")
    // swap each written partition dir into the live zone; the displaced old
    // dir parks under the temp root (never inside the live zone, where a
    // crash would leave it readable as a bogus partition value)
    for {
      prov <- fs.listStatus(tmpRoot) if prov.isDirectory
      dr <- fs.listStatus(prov.getPath) if dr.isDirectory
    } {
      val rel = s"${prov.getPath.getName}/${dr.getPath.getName}"
      val dst = new org.apache.hadoop.fs.Path(livePath, rel)
      val parked = new org.apache.hadoop.fs.Path(tmpRoot, s"$rel.__old")
      check(fs.mkdirs(dst.getParent), s"mkdirs ${dst.getParent}")
      if (fs.exists(dst)) check(fs.rename(dst, parked), s"park $dst")
      check(fs.rename(dr.getPath, dst), s"install ${dr.getPath} -> $dst")
    }
    fs.delete(tmpRoot, true)
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new java.io.IOException(s"filesystem operation failed: $what")

  /** Crash recovery for [[mergeWriteClean]]: a parked `<partition>.__old`
    * directory under the temp root whose live partition directory is
    * MISSING means a crash landed between park and install — the parked
    * copy is the only surviving pre-batch state, so rename it back. Parked
    * dirs whose live directory exists are superseded leftovers and are
    * removed with the temp root by the caller.
    */
  private def recoverParked(fs: org.apache.hadoop.fs.FileSystem,
      tmpRoot: org.apache.hadoop.fs.Path,
      livePath: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(tmpRoot)) return
    for {
      prov <- fs.listStatus(tmpRoot) if prov.isDirectory
      dr <- fs.listStatus(prov.getPath)
      if dr.isDirectory && dr.getPath.getName.endsWith(".__old")
    } {
      val rel = s"${prov.getPath.getName}/${dr.getPath.getName.stripSuffix(".__old")}"
      val dst = new org.apache.hadoop.fs.Path(livePath, rel)
      if (!fs.exists(dst)) {
        check(fs.mkdirs(dst.getParent), s"mkdirs ${dst.getParent}")
        check(fs.rename(dr.getPath, dst), s"recover ${dr.getPath} -> $dst")
      }
    }
  }

  /** Catalog sink (K6): same write, registered as a queryable table —
    * the Glue-crawler-equivalent (reference `infrastructure/main.tf:288-352`)
    * without a crawler: the write IS the catalog update.
    */
  def writeCleanAsTable(df: DataFrame, tableName: String): Unit = {
    val spark = df.sparkSession
    // Re-registration must be idempotent across metastore lifetimes: a
    // fresh catalog with a leftover managed-table directory (e.g. from a
    // crashed prior run) fails saveAsTable with LOCATION_ALREADY_EXISTS —
    // drop the entry AND clear the orphan location first.
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    // ask the catalog for the managed location rather than string-building
    // <warehouse>/<name>: the metastore lower-cases directory names and the
    // warehouse dir may need URI escaping — both are its business, not ours
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName))
    // delete through the location's own Hadoop filesystem: a warehouse on
    // hdfs://'/s3a:// makes new java.io.File(loc) throw (non-file URI
    // scheme), and a local-only delete could never clear a remote orphan —
    // the LOCATION_ALREADY_EXISTS failure this exists to prevent
    val locPath = new org.apache.hadoop.fs.Path(loc)
    locPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(locPath, true)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.write
      .mode("overwrite")
      .partitionBy(ProductSchema.partitionColumns: _*)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Full batch run (the `bulk_clean.sh` equivalent, E3): read every silver
    * file, clean, write the partitioned clean zone AND the quarantine zone,
    * return the re-read clean result — one job replaces the reference's
    * O(files) Lambda round-trips. The quarantine write is the batch half of
    * the nothing-silently-disappears contract: clean() + quarantined()
    * partition the input, and the streaming path (PipelineStreams
    * .cleanStream) already lands the quarantine rows — a batch backfill
    * that dropped them would silently lose exactly the rows a re-run is
    * usually chasing. Persisted once: the clean write and the quarantine
    * probe both consume the multiLine JSON parse.
    */
  def run(spark: SparkSession, silverGlob: String, cleanRoot: String): DataFrame = {
    val silver = readSilver(spark, silverGlob)
    silver.persist()
    try {
      writeClean(clean(silver), cleanRoot)
      val q = quarantined(silver)
      if (!q.isEmpty)
        q.write.mode("append").parquet(s"${cleanRoot}_quarantine")
    } finally silver.unpersist()
    spark.read.parquet(cleanRoot)
  }
}
