package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash.hash60
import graft.queries.Sampling

/** Training-shard EXPORT — the terminal sink of the corpus pipeline: the
  * t8 token-budget shard assignment materialized as one directory per
  * shard of compressed JSONL, the layout a training loader consumes
  * (read shard k = read one directory; a shard's token mass is bounded
  * by construction).
  *
  * Scale contract:
  *  - the shard assignment is the t8 two-level prefix sum (no global
  *    single-partition window);
  *  - `partitionBy(shard_id)` writes every shard directory in one pass —
  *    the single shuffle is the REBALANCE on shard_id that co-locates a
  *    shard's rows (without it, every task holds files for every shard: a
  *    small-files explosion at corpus scale). A rebalance, not a plain
  *    repartition, because AQE's skew splitting applies only to rebalance
  *    partitions — a pathological shard splits across tasks (still one
  *    DIRECTORY via partitionBy) instead of serializing on one task;
  *  - `maxRecordsPerFile` bounds any one file regardless of skew, so a
  *    heavy task splits output files instead of producing a multi-GB one;
  *  - re-export is a FULL overwrite of the zone, deliberately NOT the
  *    clean zone's per-partition dynamic overwrite (K4): K4's partition
  *    values are stable natural keys, but shard_id is a dense prefix-sum
  *    artifact — re-curating the corpus shifts every downstream
  *    assignment and can shrink the shard count, and a per-partition
  *    overwrite would leave the trailing stale shard directories in
  *    place (duplicate training data). Truncate-and-replace is the only
  *    assignment-stable contract; it stays idempotent. A deployment that
  *    needs INCREMENTAL re-export should shard by a stable content key
  *    instead (t7's salted hash mod N — assignments never shift), trading
  *    the strict per-shard token bound for per-partition overwrite.
  *
  * Filesystem contract: every metadata/layout operation (marker, manifest,
  * pointer, shard listing, directory drop) goes through the Hadoop
  * [[org.apache.hadoop.fs.FileSystem]] API resolved from the zone path's
  * own scheme — NEVER `java.io.File`/`java.nio.file` — so a zone on
  * `hdfs://`/`s3a://` (any real 100 TB deployment) sees exactly the same
  * metadata the data writers see. A local-FS metadata layer on a remote
  * zone would silently see NOTHING: a populated zone would read as new
  * and be rewritten under a possibly-wrong shard count — precisely the
  * doc→shard remap hazard the marker machinery exists to kill.
  *
  * One zone format: every zone holds its `_graft_shards` marker before
  * its first shard write (creation commits marker → shards → manifest),
  * so a crash leaves either a zone the next run completes or a
  * marker-only directory. A root holding shard data or a manifest but
  * no marker is not a state this code writes; every operation refuses
  * it (see [[resolveZoneShards]]).
  */
object ExportJob {

  /** Default cap on records per output file, sized for PRODUCTION file
    * targets (guide: output files in the 128 MB – 1 GB range; at a few
    * hundred bytes per JSONL row, 500k records ≈ 100 MB+). Deployments
    * size it from target file size / mean record size. The r21 bench
    * measured the old fixture-sized cap (50) writing 107 tiny gzip files
    * per zone at sf0.1 — 2.4x the write cost of the same rows in 16
    * right-sized files; the split-bound SPEC now passes its own small cap
    * explicitly instead of shrinking every writer's files.
    */
  val MaxRecordsPerFile = 500000L

  /** Join the shard assignment back to the document payload and write
    * `outDir/shard_id=<k>/part-*.json.gz`. Returns the exported frame
    * (shard_id, doc_id, text, lang, source) for callers that chain.
    * `maxRecordsPerFile` bounds individual files (see [[MaxRecordsPerFile]]).
    */
  def writeTrainingShards(spark: SparkSession, dir: String, outDir: String,
      maxRecordsPerFile: Long = MaxRecordsPerFile): DataFrame = {
    val shards = Sampling.tokenShards(spark, dir)
      .select("doc_id", "shard_id", "n_tokens")
    val docs = graft.core.Tables(spark, dir).documents
      .select("doc_id", "text", "lang", "source")
    val export = shards.join(docs, "doc_id")
      .select("shard_id", "doc_id", "text", "lang", "source")
    // static = truncate-and-replace, pinned even under a session-wide
    // dynamic default (stale trailing shard dirs must not survive)
    writeShardPartitions(export, outDir, "static", maxRecordsPerFile)
    export
  }

  // ------------------------------------------------------------ filesystem

  /** Hadoop configuration of the running session — carries the cluster's
    * filesystem bindings (credentials, `fs.defaultFS`, object-store
    * committers); a bare `new Configuration()` only outside any session
    * (never in practice — every public entry point runs under one).
    */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private def isDir(root: String, name: String): Boolean =
    isDirPath(new Path(root, name))

  // one metadata round-trip, not two: FileSystem.exists is itself a
  // getFileStatus in a try/catch, and this runs once per shard id on
  // maintenance paths — 2x the RPC count on a remote store otherwise
  private def isDirPath(p: Path): Boolean =
    try fsOf(p).getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  /** Entire content of a small metadata file, None if absent. */
  private def readSmallFile(p: Path): Option[String] = {
    val fs = fsOf(p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        Some(new String(out.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Write a small metadata file atomically (temp + rename): a crash
    * mid-write must never leave a truncated marker/manifest that bricks
    * every later maintenance op with a parse error — and the LAYOUT
    * POINTER additionally rides this rename for its reader-atomic swap.
    * `FileContext.rename(OVERWRITE)` is the POSIX-rename equivalent
    * (atomic on HDFS and the local FS); a filesystem with no
    * AbstractFileSystem binding (some object-store mounts) falls back to
    * delete-then-rename — a weaker publish with a crash window in which
    * the file is ABSENT. The marker never meets that window: it is
    * written only where none exists (zone creation, reshard staging).
    * An absent MANIFEST reads as the manifest-less crash state, which
    * maintenance diffs against pre-op fingerprints; for the layout
    * POINTER an absent file would silently resolve a versioned zone as
    * flat, so [[zoneDataRoot]] detects the orphaned-versioned-dirs
    * signature and refuses loudly instead.
    */
  private def writeMetaFile(dir: String, name: String, body: String): Unit = {
    val target = new Path(dir, name)
    val fs = fsOf(target)
    fs.mkdirs(target.getParent)
    val tmp = new Path(dir, s"$name.__tmp__")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    try
      FileContext.getFileContext(fs.getUri, hadoopConf)
        .rename(fs.makeQualified(tmp), fs.makeQualified(target),
          Options.Rename.OVERWRITE)
    catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (fs.exists(target)) fs.delete(target, false)
        if (!fs.rename(tmp, target))
          throw new java.io.IOException(s"rename $tmp -> $target failed")
    }
  }

  // -------------------------------------------------------- layout pointer

  /** Name of the zone's layout pointer — present only after a [[reshard]];
    * its single line names the versioned layout directory holding the
    * zone's live data and metadata. Underscore-prefixed like every other
    * metadata file so Spark's file listing never sees it as data.
    */
  private val LayoutPointerName = "_graft_layout"

  private def layoutDirName(v: Int) = s"_layout_v$v"
  private val LayoutDirPattern = "_layout_v(\\d+)".r

  private def readLayoutPointer(outDir: String): Option[String] =
    readSmallFile(new Path(outDir, LayoutPointerName)).map(_.trim)

  /** The zone's ACTIVE data root: `outDir` itself for a flat (never
    * resharded) zone, or the versioned layout directory the atomic
    * pointer names. Everything — shard directories, marker, manifest —
    * lives under this root, so one pointer read pins a fully consistent
    * (data, count, fingerprints) triple for the whole operation. A
    * pointer whose target is missing means the live layout was deleted by
    * hand (NOT by [[vacuumLayouts]], which only drops non-pointed dirs) —
    * refuse loudly rather than mistake a populated-but-broken zone for a
    * fresh one. Likewise versioned layout dirs with NO pointer and NO
    * flat layout: not a state this code writes (crashed staging leaves
    * the flat layout; vacuum keeps the pointer) but the signature of a
    * pointer lost to a non-atomic-rename filesystem's delete+rename
    * window, which would otherwise resolve a POPULATED zone as new.
    */
  def zoneDataRoot(outDir: String): String = readLayoutPointer(outDir) match {
    case None =>
      // orphaned-pointer detection: one root listing (free on
      // nonexistent paths)
      val names = rootChildNames(outDir)
      val flatLayout = names.exists(_.startsWith("shard_id=")) ||
        names.contains(ManifestName)
      val versioned = names.filter(LayoutDirPattern.matches).sorted
      if (!flatLayout && versioned.nonEmpty)
        throw new IllegalStateException(
          s"export zone $outDir has versioned layout directories " +
            s"(${versioned.mkString(", ")}) but no $LayoutPointerName " +
            "pointer and no flat layout - the pointer was likely lost " +
            "to a non-atomic metadata filesystem; restore it by writing " +
            s"$LayoutPointerName naming the live directory")
      outDir
    case Some(name) =>
      require(LayoutDirPattern.matches(name),
        s"export zone $outDir has a corrupt layout pointer ('$name')")
      require(isDir(outDir, name),
        s"export zone $outDir points at layout $name but the directory " +
          "is missing - the zone is corrupt (live layout deleted by hand?)")
      new Path(outDir, name).toString
  }

  /** Child names of a directory, empty when it does not exist (one RPC). */
  private def rootChildNames(dir: String): Seq[String] = {
    val p = new Path(dir)
    try fsOf(p).listStatus(p).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** CREATION-TIME shard count in incremental mode: the count a new zone
    * gets from either creating writer (an export without
    * `requestedShards`, or an upsert that lands rows on a path holding no
    * zone). Once a zone exists its authoritative count is the persisted
    * [[zoneShards]] marker; this value is never assumed for a populated
    * zone that lacks one (that zone is refused, see [[resolveZoneShards]]).
    *
    * THIS is the deployment knob that keeps fixed-size zone maintenance
    * O(1): a delete/upsert pays |affected shards| × (zone / shards), so
    * the shard count must scale with the corpus to keep shard size
    * bounded (16 suits the fixture; a 100 TB zone runs thousands, sized
    * to a few hundred MB each). Measured in SCALESTRESS_r11: at x100 the
    * same 4-id delete costs 12.1 s against 16 shards but 3–4× less
    * against 64, tracking shard size exactly. A zone that needs another
    * count is created with `writeTrainingShardsIncremental(…,
    * requestedShards = Some(n))`; fixed per zone lifetime — [[reshard]] is
    * the migration.
    */
  val IncrementalShards: Int = 16

  /** Name of the zone's persisted shard-count marker; underscore-prefixed
    * like the manifest so Spark's file listing never sees it as data.
    */
  private val ShardsMarkerName = "_graft_shards"

  /** The persisted shard count of a zone — written at zone creation,
    * before the first shard write, and authoritative from then on: every
    * maintenance op derives its doc→shard mapping from the marker, never
    * from session configuration, so a session configured
    * with a different count cannot silently remap docs to wrong shards
    * (the data-safety hazard: a delete computed under the wrong modulus
    * rewrites the wrong shards and leaves "deleted" docs in place). An
    * EXPLICITLY conflicting request fails loudly instead — see
    * [[resolveZoneShards]]; [[reshard]] is the one legal way to change it.
    */
  def zoneShards(outDir: String): Option[Int] = rootShards(zoneDataRoot(outDir))

  private def rootShards(root: String): Option[Int] =
    readSmallFile(new Path(root, ShardsMarkerName)).map(_.trim.toInt)

  private def writeShardsMarker(root: String, n: Int): Unit =
    writeMetaFile(root, ShardsMarkerName, s"$n\n")

  /** The ONE shard-directory writer all four zone writers share: rebalance
    * by shard (AQE may split a skewed shard across tasks, still one
    * directory via partitionBy), partition column sorted first (the file
    * writer would otherwise insert its own unstable sort, scrambling
    * doc_id order), bounded file sizes, gzip JSONL. A single recipe is
    * load-bearing, not style: the fingerprint diff skips byte-stable
    * shards, so a writer that diverged (different sort, compression, or
    * options) would produce fingerprint-equal but byte-different output
    * and silently break the untouched-mtime contract.
    */
  private def writeShardPartitions(df: DataFrame, root: String,
      overwriteMode: String,
      maxRecordsPerFile: Long = MaxRecordsPerFile): Unit =
    df.hint("rebalance", col("shard_id"))
      .sortWithinPartitions("shard_id", "doc_id")
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", overwriteMode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("compression", "gzip")
      .partitionBy("shard_id")
      .json(root)

  /** Drop one shard directory; a no-op if it does not exist. */
  private def dropShardDir(root: String, id: Long): Unit = {
    val p = new Path(root, s"shard_id=$id")
    fsOf(p).delete(p, true)
  }

  /** The zone's shard-directory ids, from one file listing — shared by
    * the full-zone read, reshard, and the has-layout test.
    */
  private def zoneLayoutIds(root: String): Seq[Long] = {
    val p = new Path(root)
    val fs = fsOf(p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard_id="))
      .map(_.getPath.getName.stripPrefix("shard_id=").toLong).sorted
  }

  /** Whether the layout root materially IS a zone: it holds shard data or
    * a manifest (a manifest-only zone — every shard emptied — still
    * counts). Such a root without a marker is refused by every operation.
    */
  private def zoneHasLayout(root: String): Boolean = {
    val m = new Path(root, ManifestName)
    zoneLayoutIds(root).nonEmpty || fsOf(m).exists(m)
  }

  /** Resolve the shard count an operation on `outDir` must use, enforcing
    * the fixed-per-zone-lifetime contract: the zone's marker wins; a
    * conflicting EXPLICIT request (the `requestedShards` argument) throws,
    * pointing at [[reshard]].
    * A root that holds shard data or a manifest but NO marker throws: its
    * count is unknown, and assuming one is the silent-remap hazard the
    * marker exists to kill. The creating writers commit the marker first,
    * so no crash leaves that state; the repair is to delete the zone and
    * re-export it. A path with NO layout at all resolves the count but
    * persists NOTHING: a pure-maintenance op against a nonexistent or
    * mistyped path must stay a harmless no-op, not conjure a marker-only
    * directory that pins a possibly-wrong count on a path that may later
    * receive the real zone — writers persist the marker themselves when
    * they first materialize the zone. Every operation resolves its count
    * before it touches the zone, so a refusal leaves the zone as it was.
    */
  private[pipeline] def resolveZoneShards(outDir: String,
      requested: Option[Int]): Int =
    resolveRootShards(zoneDataRoot(outDir), requested)

  private def resolveRootShards(root: String, requested: Option[Int]): Int = {
    val explicit = requested.map(v => math.max(1, v))
    rootShards(root) match {
      case Some(n) =>
        explicit.filter(_ != n).foreach { m =>
          throw new IllegalStateException(
            s"export zone $root was written with $n shards but $m were " +
              "requested: the doc->shard mapping is fixed per zone " +
              "lifetime - run ExportJob.reshard to migrate the zone")
        }
        n
      case None =>
        if (zoneHasLayout(root))
          throw new IllegalStateException(
            s"export zone $root holds shard data or a manifest but no " +
              s"$ShardsMarkerName marker, so its shard count is unknown - " +
              "delete the zone and re-export it")
        explicit.getOrElse(IncrementalShards)
    }
  }

  /** Salt of the stable shard key — shared by the incremental export and
    * the targeted delete, which must compute the SAME doc→shard mapping
    * (the delete's pruning correctness rests on it).
    */
  val IncrementalSalt = "graft-export|"

  /** The stable shard of one doc id, driver-side — the JVM twin of the
    * assignment expression in [[writeTrainingShardsIncremental]]
    * (Hash60Util.hash IS the graft_hash60 expression's kernel, so the two
    * cannot disagree). The no-count form uses the creation-time default;
    * maintenance ops use the explicit form with the zone's marker count.
    */
  def shardOf(docId: Long): Long = shardOf(docId, IncrementalShards)

  def shardOf(docId: Long, shards: Int): Long =
    graft.functions.Hash60Util.hash(IncrementalSalt + docId) % shards

  /** INCREMENTAL re-export — the opt-in alternative mode the
    * [[writeTrainingShards]] contract note points at: shard by a STABLE
    * salted content-key hash (t7's mechanism — `hash60(salt||doc_id) mod
    * N`) instead of the t8 dense prefix sum, so adding/dropping/editing a
    * doc moves only that doc's own shard. Re-export then rewrites ONLY the
    * shards whose content changed:
    *
    *  - a per-shard order-independent fingerprint (`bit_xor` of a row
    *    content hash, plus the row count — xor alone cancels on paired
    *    rows) is computed in the same single pass that stages the export;
    *    the fingerprint aggregate collects N rows (shard count, not data);
    *  - fingerprints are compared against `_graft_manifest.tsv` from the
    *    previous export (underscore-prefixed: Spark's file index ignores
    *    it, so readers of the zone never see it as data);
    *  - only changed shards are written, under per-partition DYNAMIC
    *    overwrite — untouched shard directories are never listed, read, or
    *    rewritten (their files keep their mtimes: the spec pins this);
    *  - shards that became EMPTY (every doc dropped) write no rows, so
    *    dynamic overwrite cannot clear them — their directories are
    *    deleted explicitly from the old-manifest diff.
    *
    * Trade-off vs the default mode, per the contract note: per-shard token
    * mass is now only ~uniform in expectation (hash balance), not bounded
    * by construction. `maxRecordsPerFile` still bounds individual files.
    * Idempotent: re-export of an unchanged corpus rewrites zero shards.
    */
  def writeTrainingShardsIncremental(spark: SparkSession, dir: String,
      outDir: String, requestedShards: Option[Int] = None): DataFrame = {
    val root = zoneDataRoot(outDir)
    val nShards = resolveRootShards(root, requestedShards)
    val docs = graft.core.Tables(spark, dir).documents
      .select("doc_id", "text", "lang", "source")
    val assigned = docs.withColumn("shard_id",
      pmod(hash60(concat(lit(IncrementalSalt), col("doc_id").cast("string"))),
        lit(nShards.toLong)))
    // stage once: fingerprint pass + (filtered) write pass share the scan
    assigned.persist()
    try {
      val fps = fingerprints(assigned)
      val prev = readManifest(root)
      val changed = fps.keys.filter(k => !prev.get(k).contains(fps(k))).toSeq.sorted
      // the export creates the zone: marker first, then shards, then the
      // manifest — a crash leaves a marker-only or manifest-less zone,
      // and this same call completes either
      if (rootShards(root).isEmpty) writeShardsMarker(root, nShards)
      if (changed.nonEmpty)
        // dynamic = replace ONLY the partitions present in the frame
        writeShardPartitions(assigned.filter(col("shard_id").isin(changed: _*)),
          root, "dynamic")
      // shards the previous export had that now hold zero rows: dynamic
      // overwrite never saw them — drop their directories
      for (gone <- prev.keySet -- fps.keySet) dropShardDir(root, gone)
      writeManifest(root, fps)
    } finally assigned.unpersist()
    assigned
  }

  /** TARGETED DELETE (right-to-be-forgotten) over an incremental export
    * zone: remove the given doc ids from the shards WITHOUT scanning the
    * zone — the stable shard key makes each victim's shard computable
    * driver-side, so the job reads ONLY the victims' shard directories
    * and rewrites only those that actually lost a row (an id absent from
    * the zone leaves its shard's fingerprint, and therefore its files,
    * untouched). A GDPR request of any realistic size touches a handful
    * of the N shards; every other directory is never listed, read, or
    * rewritten — same untouched-mtime contract as the incremental export,
    * the spec pins it.
    *
    * The victim list is a DRIVER-side Seq by design: deletion requests are
    * human-scale (thousands of ids, not billions) — the same driver-side-
    * metadata precedent as this file's 16-row fingerprint collect. A
    * corpus-scale delete (drop a whole source) is not this operator; that
    * is a re-export with the source filtered upstream.
    *
    * The manifest is updated to the POST-delete fingerprints of the
    * rewritten shards, which keeps the next incremental export honest: a
    * source that still contains the victims will show those shards as
    * changed (and reinstate them — the zone delete is for when the source
    * of truth dropped them first, or the zone outlives its source);
    * unaffected shards still fingerprint-match and skip.
    *
    * A shard emptied by the delete is removed entirely (dynamic overwrite
    * writes nothing for it — same explicit-directory-drop as the
    * incremental export's emptied-shard path).
    */
  def deleteFromShards(spark: SparkSession, outDir: String,
      docIds: Seq[Long]): Unit = {
    if (docIds.isEmpty) return
    val root = zoneDataRoot(outDir)
    val nShards = resolveRootShards(root, None)
    val affected = docIds.distinct.map(shardOf(_, nShards)).distinct.sorted
    val victims = docIds.toSet
    val preOp = readShards(spark, root, affected)
    val kept = preOp.filter(!col("doc_id").isin(victims.toSeq: _*))
    rewriteAffectedShards(spark, root, nShards, affected, preOp, kept)
  }

  /** Row-level UPSERT (MERGE INTO) over an incremental export zone: the
    * upsert frame's rows REPLACE same-id rows and ADD new ids, touching
    * only the shards the stable hash maps those ids to -- the row-granular
    * completion of the zone-maintenance family (incremental re-export is
    * source-driven and corpus-shaped; this is delta-driven and
    * delta-shaped, the MERGE a CDC upsert feed like st12's lands with).
    *
    * Unlike the delete, the upsert payload is DATA-sized, so nothing about
    * it goes through the driver except the affected shard-id list (at most
    * the zone's shard count of values): the replace is a distributed
    * left-anti join of the affected shards' rows against the upsert keys,
    * then a union with the upserts. Idempotent by fingerprint: re-landing the
    * same upsert finds every affected shard's post-merge fingerprint equal
    * to the manifest and rewrites nothing (the redelivery contract,
    * spec-pinned).
    *
    * Precondition: `doc_id` is unique WITHIN the upsert frame (standard
    * MERGE semantics — a batch with two rows for one key has no
    * well-defined winner; collapse upstream, e.g. st12's max-version
    * collapse, before landing). Duplicate keys are landed as-is.
    */
  def upsertShards(spark: SparkSession, outDir: String,
      upserts: DataFrame): Unit = {
    val root = zoneDataRoot(outDir)
    val nShards = resolveRootShards(root, None)
    val up = upserts
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("lang"), col("source"))
      .withColumn("shard_id",
        pmod(hash60(concat(lit(IncrementalSalt), col("doc_id").cast("string"))),
          lit(nShards.toLong)))
    up.persist()
    try {
      // MERGE keys must be non-null: a null (or non-numeric, cast-to-null)
      // doc_id yields a null shard_id, which the affected-id collect would
      // coerce to 0, the fingerprint map would mis-key, and the changed-
      // shard write filter would silently drop — reject the batch loudly.
      // ONE aggregation serves both the null-key guard and the affected-id
      // collect (graft_hash60 is null-in-null-out, so null doc_id ⟺ null
      // shard_id — the null group's count IS the null-key count); the
      // guard used to be its own count() job, a second full pass over the
      // persisted batch.
      val byShard = up.groupBy("shard_id").agg(count(lit(1)).as("n")).collect()
      val nullKeys = byShard.filter(_.isNullAt(0)).map(_.getAs[Long]("n")).sum
      require(nullKeys == 0, s"upsert batch contains $nullKeys rows whose " +
        "doc_id is null or not castable to long - MERGE keys must be non-null")
      val affected = byShard.filter(!_.isNullAt(0))
        .map(_.getAs[Long]("shard_id")).sorted.toSeq
      val existing = readShards(spark, root, affected)
      val kept = existing.join(up.select("doc_id"), Seq("doc_id"), "left_anti")
      rewriteAffectedShards(spark, root, nShards, affected, existing,
        kept.unionByName(up.select(kept.columns.map(col): _*)))
    } finally up.unpersist()
  }

  /** RE-SHARD an incremental export zone in place: migrate it from its
    * current persisted shard count to `newShards` — the operation the r11
    * scale study proved necessary (maintenance cost = |affected| ×
    * zone/shards, so the count must grow with the corpus; it is fixed per
    * zone lifetime, and this is the one legal way to change it).
    *
    * One read of the zone, one stable-hash reassignment (the SAME salted
    * key — only the modulus changes), one write. The new layout — shard
    * directories, marker, AND manifest — is staged into a fresh versioned
    * directory (`_layout_v{N+1}`, underscore-prefixed so Spark's file
    * listing never mixes it into a read of the zone), then PUBLISHED by
    * one atomic write of the layout pointer ([[writeMetaFile]]'s
    * temp+rename). The guarantee is READER-ATOMIC old-or-new: a reader
    * resolving the zone through [[zoneDataRoot]]/[[readZone]] sees the
    * complete old layout or the complete new one, never a missing path
    * and never a mix — the pointer pins data, shard count, and
    * fingerprints together because all three live inside the versioned
    * directory. The SUPERSEDED layout is deliberately retained so
    * in-flight readers that resolved the old pointer finish against
    * intact files; [[vacuumLayouts]] reclaims it once they quiesce (and
    * the next reshard vacuums stale non-pointed layouts automatically).
    * Until vacuum the zone briefly holds two copies — the standard
    * snapshot-swap storage cost, paid only across a migration.
    *
    * Crash-consistent at every step: a crash while staging leaves the
    * pointer on the old layout (the half-built directory is never
    * referenced and is swept at the next reshard's entry); a crash after
    * the pointer write leaves the new layout live with the old one as
    * debris for vacuum. Re-running at the zone's current count (the
    * marker, resolved like every other operation's, so a populated zone
    * without one is refused before the sweep) is a no-op; re-running
    * after a crash restarts from whichever layout the pointer names.
    * Unlike delete/upsert the cost is deliberately zone-sized — it IS the
    * migration — but flat in the target shard count (same rows, one
    * rebalance).
    *
    * A resharded zone's data lives under the versioned directory, which a
    * naive `spark.read.json(outDir)` cannot see (underscore prefix):
    * read maintained zones through [[readZone]], which resolves the
    * pointer — the API contract that makes the swap invisible.
    */
  def reshard(spark: SparkSession, outDir: String, newShards: Int): Unit = {
    require(newShards >= 1, s"newShards must be >= 1, got $newShards")
    val zonePath = new Path(outDir)
    val fs = fsOf(zonePath)
    // a migration needs a zone: refuse a path that holds neither data nor
    // metadata rather than conjuring an empty marker-only directory
    require(isDirPath(zonePath),
      s"reshard target $outDir does not exist - nothing to migrate")
    // resolve (and VALIDATE) the pointer before any deletion: a corrupt or
    // dangling pointer must fail here, loudly, while every layout dir is
    // still intact — sweeping first would destroy the live layout (corrupt
    // case) or the retained recovery copy (dangling case) and then tell
    // the operator to repair a zone the same call just emptied
    val root = zoneDataRoot(outDir)
    // the current count likewise: a populated root without a marker is
    // refused here, before the sweep deletes anything
    val cur = resolveRootShards(root, None)
    // the sweep's keep-name derives from the VALIDATED root — a second
    // pointer read here could disagree with the one zoneDataRoot just
    // validated (concurrent publish, or the non-atomic fallback's absent
    // window) and the sweep would then key deletion off an unvalidated
    // value, destroying the live layout
    val pointed = if (root == outDir) None else Some(new Path(root).getName)
    // entry sweep: every versioned layout dir the (validated) pointer does
    // NOT name is debris — staging from a crashed migration (never
    // published) or a superseded layout retained for in-flight readers
    for (st <- fs.listStatus(zonePath)
         if st.isDirectory && LayoutDirPattern.matches(st.getPath.getName)
         if !pointed.contains(st.getPath.getName))
      fs.delete(st.getPath, true)
    if (cur == newShards) return
    val nextV = pointed.map { name =>
      val LayoutDirPattern(v) = name: @unchecked
      v.toInt + 1
    }.getOrElse(1)
    val staging = new Path(zonePath, layoutDirName(nextV)).toString
    val content = readShards(spark, root, zoneLayoutIds(root))
      .drop("shard_id")
      .withColumn("shard_id",
        pmod(hash60(concat(lit(IncrementalSalt), col("doc_id").cast("string"))),
          lit(newShards.toLong)))
    content.persist()
    try {
      val fps = fingerprints(content)
      if (fps.nonEmpty) writeShardPartitions(content, staging, "static")
      writeManifest(staging, fps)
      writeShardsMarker(staging, newShards)
      // the PUBLISH: one atomic pointer write flips every future
      // resolution to the staged layout
      writeMetaFile(outDir, LayoutPointerName, layoutDirName(nextV) + "\n")
    } finally content.unpersist()
  }

  /** Reclaim the storage a [[reshard]] retained for in-flight readers:
    * drop every versioned layout directory the pointer does not name,
    * and — once a pointer exists — the flat pre-reshard remnants at the
    * zone root (old shard directories, marker, manifest). Call when
    * readers of the pre-migration layout have quiesced; never touches the
    * live layout, so it is safe (but pointless) at any other time. A
    * flat, never-resharded zone is a no-op.
    */
  def vacuumLayouts(outDir: String): Unit = {
    val zonePath = new Path(outDir)
    val fs = fsOf(zonePath)
    if (!fs.exists(zonePath)) return
    // read the pointer ONCE and validate THAT value before deleting
    // anything. Two hazards, one discipline: a garbage pointer matches no
    // directory name, so an unvalidated sweep would delete every layout
    // (the live one included) and return success; and a SECOND read (e.g.
    // re-resolving via zoneDataRoot) could land in a concurrent publish's
    // absent window on a non-atomic-fallback filesystem and fall back to
    // "flat", with the same total deletion. One read pins one decision —
    // validation makes vacuum strictly unable to touch live data.
    val live = readLayoutPointer(outDir) match {
      case None => return // flat zone: the root IS the live layout
      case Some(name) =>
        require(LayoutDirPattern.matches(name),
          s"export zone $outDir has a corrupt layout pointer ('$name') - " +
            "refusing to vacuum")
        require(isDir(outDir, name),
          s"export zone $outDir points at layout $name but the directory " +
            "is missing - the zone is corrupt; refusing to vacuum")
        name
    }
    for (st <- fs.listStatus(zonePath)) {
      val name = st.getPath.getName
      val superseded =
        (st.isDirectory && LayoutDirPattern.matches(name) && name != live) ||
          (st.isDirectory && name.startsWith("shard_id=")) ||
          name == ManifestName || name == ShardsMarkerName
      if (superseded) fs.delete(st.getPath, true)
    }
  }

  /** Read a zone through its layout pointer — THE read API for maintained
    * zones. A flat (never resharded) zone also reads naively via
    * `spark.read.json(outDir)`; after a [[reshard]] the live data sits
    * under an underscore-prefixed versioned directory Spark's listing
    * deliberately hides, and this resolution is the only correct read.
    */
  def readZone(spark: SparkSession, outDir: String): DataFrame = {
    val root = zoneDataRoot(outDir)
    readShards(spark, root, zoneLayoutIds(root))
  }

  /** Per-shard order-independent fingerprints of `content` (`bit_xor` of
    * a row content hash, plus the row count — xor alone cancels on paired
    * rows): at most the zone's shard count of driver rows, not data. The
    * shared kernel of the incremental export, delete/upsert rewrite, and
    * reshard — all four MUST fingerprint identically or the
    * changed-shard diff misfires.
    */
  private def fingerprints(content: DataFrame): Map[Long, (Long, Long)] = {
    // INJECTIVE row encoding: length-prefix each field (len:value, null ->
    // N) -- a separator-joined concat_ws silently skips nulls and lets
    // field content shift across boundaries, so (text=null, lang="x")
    // collided with (text="x", lang=null) and a real change went
    // undetected; the length prefix makes the encoding uniquely parseable
    def enc(c: org.apache.spark.sql.Column) =
      coalesce(concat(length(c), lit(":"), c), lit("N"))
    content
      .withColumn("row_fp", hash60(concat(
        enc(col("doc_id").cast("string")), enc(col("text")),
        enc(col("lang")), enc(col("source")))))
      .groupBy("shard_id")
      .agg(expr("bit_xor(row_fp)").as("fp"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getAs[Long]("shard_id") ->
        (r.getAs[Long]("fp"), r.getAs[Long]("n"))).toMap
  }

  /** Read ONLY the given shard directories of a layout root (skipping ids
    * whose directory does not exist yet -- an upsert may target an empty
    * shard); basePath re-derives the shard_id partition column from the
    * paths.
    */
  private def readShards(spark: SparkSession, root: String,
      shardIds: Seq[Long]): DataFrame = {
    val dirs = shardIds.map(k => s"shard_id=$k")
      .filter(isDir(root, _)).map(d => s"$root/$d")
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ZoneSchema)
    else spark.read
      .option("basePath", root)
      // explicit schema: a schema-less json() read pays a FULL extra
      // decompress+parse pass over every file just to infer the four
      // columns this writer always produces (guide §6 — at 100 TB the
      // inference pass is a second zone scan; at fixture scale it was
      // ~2x the read cost). Types match what inference yielded on this
      // zone's own output (integral JSON numbers → long), so downstream
      // results are bit-identical; the casts below stay as the shape pin.
      .schema(ZoneSchema)
      .json(dirs: _*)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("lang"), col("source"), col("shard_id").cast("long").as("shard_id"))
  }

  /** The exact frame schema of every shard-zone writer in this file
    * (doc payload columns + the `shard_id` partition column) — passed to
    * zone READS so they never pay JSON schema inference (a full extra
    * decompress+parse pass over the zone). Public: the bench-facing
    * roundtrip queries read zones back with it too.
    */
  val ZoneSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("shard_id", LongType)))
  }

  /** Shared tail of [[deleteFromShards]]/[[upsertShards]]: given the
    * post-operation content of the AFFECTED shards, fingerprint it (at
    * most the zone's shard count of driver rows, not data), rewrite only
    * the shards whose fingerprint actually changed, drop the ones whose
    * directory existed and emptied, and update the manifest -- so an id
    * absent from the zone (delete) or a byte-identical redelivery
    * (upsert) leaves every file and mtime untouched. The honest cost is
    * READ |affected shards|, REWRITE |shards that changed|. An op that
    * touches nothing on a path with no prior manifest also WRITES
    * nothing: a delete aimed at a nonexistent or mistyped zone stays a
    * pure no-op instead of conjuring metadata there (an upsert that lands
    * rows is zone CREATION: marker, then shards, then manifest, the
    * export's commit order).
    */
  private def rewriteAffectedShards(spark: SparkSession, root: String,
      nShards: Int, affected: Seq[Long], preOp: DataFrame,
      content: DataFrame): Unit = {
    content.persist()
    try {
      val fps = fingerprints(content)
      val prevAll = readManifest(root)
      // diff basis: the manifest where it knows the shard; for affected
      // shards the zone holds but the manifest does not list (a crash
      // between a creating write's shards and its manifest, or a manifest
      // lost in the non-atomic fallback's window), fingerprint their
      // PRE-op rows — with an empty basis every affected shard would read
      // as changed and rewrite byte-identically, breaking the
      // untouched-mtime contract (this op seeds manifest entries for its
      // affected shards; the next full export completes the rest)
      val missing = affected.filter(k => !prevAll.contains(k) &&
        isDir(root, s"shard_id=$k"))
      val basis = if (missing.isEmpty) prevAll
        else prevAll ++ fingerprints(
          preOp.filter(col("shard_id").isin(missing: _*)))
      val changed = fps.keySet.filter(k => !basis.get(k).contains(fps(k)))
      if (changed.nonEmpty) {
        // an upsert that lands rows on a path with no zone creates it:
        // marker before the first shard write, as in the export
        if (rootShards(root).isEmpty) writeShardsMarker(root, nShards)
        writeShardPartitions(content.filter(col("shard_id").isin(changed.toSeq: _*)),
          root, "dynamic")
      }
      // emptied = affected shards with no surviving rows whose directory
      // exists (to drop) OR that the manifest still lists (to prune — a
      // crash between a prior run's directory drop and its manifest write
      // leaves a phantom entry; this run self-heals it). An affected id
      // that never had a directory or manifest row (nonexistent zone, or
      // an upsert key hashing to a never-written shard) is not an event.
      val emptied = affected.filter(k => !fps.contains(k) &&
        (prevAll.contains(k) || isDir(root, s"shard_id=$k")))
      emptied.foreach(dropShardDir(root, _))
      val manifestPath = new Path(root, ManifestName)
      if (changed.nonEmpty || emptied.nonEmpty ||
          fsOf(manifestPath).exists(manifestPath))
        writeManifest(root, prevAll -- emptied ++ fps)
    } finally content.unpersist()
  }

  /** Manifest name; the leading underscore keeps it invisible to Spark's
    * file listing, so `spark.read.json(outDir)` sees only shard data.
    */
  private val ManifestName = "_graft_manifest.tsv"

  /** Version tag of the manifest's row-fingerprint ENCODING, written as a
    * `#`-prefixed header line. The encoding is part of the diff contract:
    * when it changes (as it did when separator-joined concat_ws became
    * the length-prefixed injective form), every stored fingerprint is
    * stale, and without a version field the first maintenance op would
    * silently rewrite affected shards byte-identically ONCE with no
    * signal. A mismatched (or future) version instead reads as an empty
    * manifest — the same known one-time full re-fingerprint, but visible
    * in the header. Headerless manifests are treated the same way
    * (unknown version → empty map): the header postdates the encoding
    * change, so a headerless manifest may hold EITHER encoding's
    * fingerprints — zones written before the length-prefix change carry
    * v1 values that would parse as current and diff against a stale
    * basis, a silent one-time byte-identical rewrite of every touched
    * shard, the exact invisible event this field exists to surface.
    * Such manifests therefore take the documented visible re-fingerprint
    * path once, and every manifest written since carries the header.
    */
  private val ManifestVersion = "graft_fp_v2"

  private def readManifest(root: String): Map[Long, (Long, Long)] =
    readSmallFile(new Path(root, ManifestName)) match {
      case None => Map.empty
      case Some(body) =>
        val lines = body.linesIterator.filter(_.nonEmpty).toSeq
        val (header, rows) = lines.partition(_.startsWith("#"))
        val ver = header.headOption.map(_.stripPrefix("#").trim)
        if (!ver.contains(ManifestVersion)) Map.empty
        else rows.map { line =>
          val Array(k, fp, n) = line.split("\t")
          k.toLong -> (fp.toLong, n.toLong)
        }.toMap
    }

  private def writeManifest(root: String,
      fps: Map[Long, (Long, Long)]): Unit =
    writeMetaFile(root, ManifestName,
      (s"#$ManifestVersion" +: fps.toSeq.sortBy(_._1)
        .map { case (k, (fp, n)) => s"$k\t$fp\t$n" }).mkString("", "\n", "\n"))
}
