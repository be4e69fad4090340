package graft.pipeline

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The training-shard export sink: layout, round-trip fidelity, file-size
  * bounding, and idempotent re-export.
  */
class ExportJobSpec extends SparkTestBase {

  private lazy val Sf = testData("0.001")

  test("export writes one directory per shard, round-trips, and bounds files") {
    val out = scratch("export-shards")
    // explicit fixture-sized cap (below the fixture's largest shard, 95
    // rows) so the file-split bound is actually exercised — the default
    // cap is production-file-sized and would never bite at sf0.001
    val cap = 50L
    val exported = ExportJob.writeTrainingShards(spark, Sf, out,
      maxRecordsPerFile = cap).collect()

    // layout: exactly the assigned shard ids appear as partition dirs
    val dirs = new File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard_id=")).sorted
    val expectShards = exported.map(_.getAs[Long]("shard_id")).distinct.sorted
    assert(dirs.toSeq === expectShards.map(k => s"shard_id=$k").toSeq)

    // every file is gzip JSONL and none exceeds the record cap
    val files = new File(out).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".json.gz"))
    assert(files.nonEmpty)

    // round-trip: reading the export back equals the exported frame
    // partition-dir values infer as int; normalize to the written type
    val back = spark.read.json(out)
      .select(col("shard_id").cast("long"), col("doc_id"), col("text"),
        col("lang"), col("source")).collect()
      .map(r => (r.getAs[Long]("shard_id"), r.getAs[Long]("doc_id"),
        r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source")))
      .sortBy(r => (r._1, r._2))
    val sent = exported
      .map(r => (r.getAs[Long]("shard_id"), r.getAs[Long]("doc_id"),
        r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source")))
      .sortBy(r => (r._1, r._2))
    assert(back.toSeq === sent.toSeq)
    back.groupBy(_._1).foreach { case (k, rows) =>
      val nFiles = new File(out, s"shard_id=$k").listFiles()
        .count(_.getName.endsWith(".json.gz"))
      assert(rows.length <= nFiles * cap,
        s"shard $k: ${rows.length} rows in $nFiles files")
    }
    // the record cap actually bit: some shard is over it and split files
    assert(back.groupBy(_._1).values.exists(_.length > cap),
      "fixture never exceeds the cap — the bound is untested")
    assert(files.length > dirs.length, "no shard split into multiple files")

    // idempotence: a second export over the same corpus leaves the same rows
    ExportJob.writeTrainingShards(spark, Sf, out, maxRecordsPerFile = cap)
    val again = spark.read.json(out).agg(count(lit(1)), sum("doc_id")).collect()(0)
    val first = (sent.length.toLong, sent.map(_._2).sum)
    assert((again.getLong(0), again.getLong(1)) === first)
  }

  test("re-export of a shrunk corpus leaves no stale shard directories") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val big = scratch("export-corpus-big")
    val small = scratch("export-corpus-small")
    docs.write.mode("overwrite").parquet(s"$big/documents.parquet")
    // curation dropped 60% of the corpus: every shard assignment shifts
    // and the shard count falls
    docs.filter(col("doc_id") % 5 < 2).write.mode("overwrite")
      .parquet(s"$small/documents.parquet")
    val out = scratch("export-shrink")
    val nBig = ExportJob.writeTrainingShards(spark, big, out).collect()
      .map(_.getAs[Long]("shard_id")).distinct.length
    val kept = ExportJob.writeTrainingShards(spark, small, out).collect()
    val keptShards = kept.map(_.getAs[Long]("shard_id")).distinct.sorted
    assert(keptShards.length < nBig, "fixture must actually shrink the shard count")
    // the export zone holds EXACTLY the new shard set — a per-partition
    // overwrite would have left the trailing stale directories behind
    val dirs = new File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard_id=")).sorted
    assert(dirs.toSeq === keptShards.map(k => s"shard_id=$k").toSeq)
    val total = spark.read.json(out).count()
    assert(total === kept.length.toLong)
  }

  /** Latest data-file mtime per shard directory — the witness that a shard
    * was (or was not) rewritten. Resolves the zone's layout pointer so the
    * same witness works before and after a reshard; strips a `file:`
    * scheme so the scheme-qualified spec can share it.
    */
  private def shardMtimes(out: String): Map[String, Long] =
    new File(ExportJob.zoneDataRoot(out).stripPrefix("file:"))
      .listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("shard_id="))
      .map(d => d.getName -> d.listFiles()
        .filter(_.getName.endsWith(".json.gz")).map(_.lastModified).max)
      .toMap

  test("incremental export rewrites only changed shards; untouched dirs keep mtimes") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpusA = scratch("inc-corpus-a")
    docs.write.mode("overwrite").parquet(s"$corpusA/documents.parquet")
    val out = scratch("inc-export")
    val first = ExportJob.writeTrainingShardsIncremental(spark, corpusA, out).collect()
    assert(first.map(_.getAs[Long]("shard_id")).distinct.length > 2)
    val t0 = shardMtimes(out)

    // idempotence: unchanged corpus → ZERO shards rewritten
    Thread.sleep(1100)
    ExportJob.writeTrainingShardsIncremental(spark, corpusA, out)
    assert(shardMtimes(out) === t0, "unchanged corpus rewrote a shard")

    // edit ONE doc's text: only that doc's shard may rewrite
    val editedId = first.head.getAs[Long]("doc_id")
    val editedShard = first.head.getAs[Long]("shard_id")
    val corpusB = scratch("inc-corpus-b")
    docs.withColumn("text",
        when(col("doc_id") === editedId, concat(col("text"), lit(" EDITED")))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$corpusB/documents.parquet")
    Thread.sleep(1100)
    ExportJob.writeTrainingShardsIncremental(spark, corpusB, out)
    val t1 = shardMtimes(out)
    assert(t1(s"shard_id=$editedShard") > t0(s"shard_id=$editedShard"),
      "the edited doc's shard was not rewritten")
    for ((d, m) <- t0 if d != s"shard_id=$editedShard")
      assert(t1(d) === m, s"untouched shard $d was rewritten")

    // the zone reads back as the FULL corpus-B export, not a partial one
    val back = spark.read.json(out)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(back.size === first.length)
    assert(back(editedId).endsWith(" EDITED"))
    assert(first.filter(_.getAs[Long]("doc_id") != editedId)
      .forall(r => back(r.getAs[Long]("doc_id")) === r.getAs[String]("text")))
  }

  test("incremental export drops shard directories that became empty") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpusA = scratch("inc-empty-a")
    docs.write.mode("overwrite").parquet(s"$corpusA/documents.parquet")
    val out = scratch("inc-empty-export")
    val first = ExportJob.writeTrainingShardsIncremental(spark, corpusA, out).collect()
    // empty out one whole shard: dynamic overwrite alone would strand it
    val victim = first.head.getAs[Long]("shard_id")
    val victimIds = first.filter(_.getAs[Long]("shard_id") == victim)
      .map(_.getAs[Long]("doc_id")).toSet
    val corpusB = scratch("inc-empty-b")
    docs.filter(!col("doc_id").isin(victimIds.toSeq: _*))
      .write.mode("overwrite").parquet(s"$corpusB/documents.parquet")
    Thread.sleep(1100)
    val t0 = shardMtimes(out)
    ExportJob.writeTrainingShardsIncremental(spark, corpusB, out)
    assert(!new File(out, s"shard_id=$victim").exists(),
      "emptied shard directory left behind")
    for ((d, m) <- shardMtimes(out))
      assert(t0(d) === m, s"shard $d rewrote on an unrelated drop")
    assert(spark.read.json(out).count() === (first.length - victimIds.size).toLong)
  }

  test("targeted delete removes victims, touches only their shards, prunes emptied ones") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("del-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("del-export")
    val first = ExportJob.writeTrainingShardsIncremental(spark, corpus, out).collect()

    // victims: two docs from one shard, plus EVERY doc of another shard
    // (so one shard rewrites and one disappears); a third id not in the
    // zone at all must be a no-op for its shard
    val byShard = first.groupBy(_.getAs[Long]("shard_id"))
    val (trimShard, trimRows) = byShard.maxBy(_._2.length)
    val (dropShard, dropRows) = byShard.minBy(_._2.length)
    assert(trimShard != dropShard)
    val trimmed = trimRows.take(2).map(_.getAs[Long]("doc_id"))
    val dropped = dropRows.map(_.getAs[Long]("doc_id"))
    val absentId = Iterator.from(1000000).map(_.toLong)
      .find(id => ExportJob.shardOf(id) != trimShard &&
        ExportJob.shardOf(id) != dropShard).get
    assert(trimmed.forall(id => ExportJob.shardOf(id) === trimShard),
      "driver-side shardOf disagrees with the export's assignment")

    Thread.sleep(1100)
    val t0 = shardMtimes(out)
    ExportJob.deleteFromShards(spark, out, (trimmed ++ dropped :+ absentId).toSeq)

    // victims gone, survivors byte-identical
    val back = spark.read.json(out)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val victims = (trimmed ++ dropped).toSet
    assert(victims.forall(!back.contains(_)), "a victim survived the delete")
    val survivors = first.filterNot(r => victims(r.getAs[Long]("doc_id")))
    assert(back.size === survivors.length)
    assert(survivors.forall(r =>
      back(r.getAs[Long]("doc_id")) === r.getAs[String]("text")))

    // emptied shard pruned; trimmed shard rewritten; every other untouched
    val t1 = shardMtimes(out)
    assert(!new File(out, s"shard_id=$dropShard").exists(),
      "fully-deleted shard directory left behind")
    assert(t1(s"shard_id=$trimShard") > t0(s"shard_id=$trimShard"))
    for ((d, m) <- t0 if d != s"shard_id=$trimShard" && d != s"shard_id=$dropShard")
      assert(t1(d) === m, s"shard $d rewrote without containing a victim")

    // manifest stays honest: a re-export from the UNCHANGED source sees
    // exactly the two affected shards as changed (reinstating the victims)
    Thread.sleep(1100)
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    val t2 = shardMtimes(out)
    assert(t2(s"shard_id=$trimShard") > t1(s"shard_id=$trimShard"))
    assert(new File(out, s"shard_id=$dropShard").exists())
    for ((d, m) <- t1 if d != s"shard_id=$trimShard" && d != s"shard_id=$dropShard")
      assert(t2(d) === m, s"shard $d rewrote on re-export after delete")
    assert(spark.read.json(out).count() === first.length.toLong)
  }

  test("upsert merges row-level changes into only their shards; redelivery is a no-op") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val corpus = scratch("ups-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("ups-export")
    val first = ExportJob.writeTrainingShardsIncremental(spark, corpus, out).collect()

    // upsert: modify one existing doc, add one brand-new id
    val modId = first.head.getAs[Long]("doc_id")
    val newId = 999999L
    val upserts = docs.filter(col("doc_id") === modId)
      .withColumn("text", concat(col("text"), lit(" PATCHED")))
      .unionByName(docs.filter(col("doc_id") === modId)
        .withColumn("doc_id", lit(newId)))
    val touched = Set(ExportJob.shardOf(modId), ExportJob.shardOf(newId))

    Thread.sleep(1100)
    val t0 = shardMtimes(out)
    ExportJob.upsertShards(spark, out, upserts)
    val t1 = shardMtimes(out)

    // only the touched shards moved; untouched dirs keep their mtimes
    for ((d, m) <- t0)
      if (touched.exists(k => d == s"shard_id=$k"))
        assert(t1(d) > m, s"touched shard $d was not rewritten")
      else assert(t1(d) === m, s"shard $d rewrote without an upserted row")

    // content: modified text landed, new row present, everything else intact
    val back = spark.read.json(out)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(back.size === first.length + 1)
    assert(back(modId).endsWith(" PATCHED"))
    assert(back(newId) === back(modId).stripSuffix(" PATCHED"))
    assert(first.filter(_.getAs[Long]("doc_id") != modId)
      .forall(r => back(r.getAs[Long]("doc_id")) === r.getAs[String]("text")))

    // redelivery: landing the SAME upsert again must rewrite nothing —
    // every affected shard's post-merge fingerprint equals the manifest
    Thread.sleep(1100)
    ExportJob.upsertShards(spark, out, upserts)
    assert(shardMtimes(out) === t1, "idempotent redelivery rewrote a shard")
  }

  test("zone shard count is persisted and a conflicting explicit request fails loudly") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("marker-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("marker-export")
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    assert(ExportJob.zoneShards(out) === Some(ExportJob.IncrementalShards))
    // the r11 hazard: maintenance configured with a different count would
    // silently remap doc->shard; now it throws and names the migration
    val e = intercept[IllegalStateException] {
      ExportJob.writeTrainingShardsIncremental(spark, corpus, out,
        requestedShards = Some(7))
    }
    assert(e.getMessage.contains("reshard"))
    // a non-conflicting implicit use keeps working (marker wins silently)
    assert(ExportJob.resolveZoneShards(out, None) === ExportJob.IncrementalShards)
    // requested counts are clamped to >= 1 (0 would pmod-by-zero)
    val fresh = scratch("marker-clamp")
    assert(ExportJob.resolveZoneShards(fresh, Some(0)) === 1)
    assert(ExportJob.shardOf(12345L, 1) === 0L)
    // a migration needs a zone: nonexistent path refused, not conjured
    intercept[IllegalArgumentException] {
      ExportJob.reshard(spark, s"$fresh/never-written", 8)
    }
  }

  test("maintenance against a path that is not a zone is a pure no-op") {
    import spark.implicits._
    // the r12 hazard: delete/upsert on a nonexistent or mistyped path
    // used to conjure a directory holding only a marker (and an empty
    // manifest), pinning a possibly-wrong count on a path that may later
    // receive the real zone
    val ghost = s"${scratch("noop-parent")}/mistyped-zone"
    ExportJob.deleteFromShards(spark, ghost, Seq(1L, 2L))
    assert(!new File(ghost).exists(), "delete conjured the zone directory")
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    ExportJob.upsertShards(spark, ghost, empty)
    assert(!new File(ghost).exists(), "empty upsert conjured the zone directory")
    // a NONEMPTY upsert is zone creation: data, manifest, and marker land
    val one = Seq((5L, "hello", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    ExportJob.upsertShards(spark, ghost, one)
    assert(ExportJob.zoneShards(ghost) === Some(ExportJob.IncrementalShards))
    assert(spark.read.json(ghost).count() === 1)
    // maintenance on the now-real zone works from the persisted marker
    ExportJob.deleteFromShards(spark, ghost, Seq(5L))
    assert(new File(ghost).listFiles()
      .count(_.getName.startsWith("shard_id=")) === 0,
      "deleted doc's shard directory survived")
    assert(ExportJob.zoneShards(ghost) === Some(ExportJob.IncrementalShards),
      "emptying the zone dropped its marker")
  }

  test("upsert rejects null MERGE keys loudly instead of losing the rows") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("nullkey-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("nullkey-export")
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    // a null doc_id used to vanish silently (null shard_id coerced to 0 in
    // the affected list, dropped by the changed-shard write filter) while
    // corrupting shard 0's manifest fingerprint
    val bad = Seq((Some(1L), "t", "en", "web"), (None, "u", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val e = intercept[IllegalArgumentException] {
      ExportJob.upsertShards(spark, out, bad)
    }
    assert(e.getMessage.contains("doc_id"))
  }

  test("fingerprints distinguish null-pattern swaps between adjacent fields") {
    import spark.implicits._
    // (text="x", lang=null) -> (text=null, lang="x") fingerprinted
    // identically under separator-joined concat_ws (null fields silently
    // skipped), so the incremental export skipped the changed shard and
    // served the stale row forever; the length-prefixed encoding must see it
    val corpusA = scratch("nullswap-a")
    val corpusB = scratch("nullswap-b")
    Seq((1L, "x", null: String, "web"), (2L, "keep", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$corpusA/documents.parquet")
    Seq((1L, null: String, "x", "web"), (2L, "keep", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$corpusB/documents.parquet")
    val out = scratch("nullswap-export")
    ExportJob.writeTrainingShardsIncremental(spark, corpusA, out)
    val before = spark.read.json(out).filter(col("doc_id") === 1L).collect()(0)
    assert(before.getAs[String]("text") === "x")
    Thread.sleep(1100)
    ExportJob.writeTrainingShardsIncremental(spark, corpusB, out)
    val after = spark.read.json(out).filter(col("doc_id") === 1L).collect()(0)
    assert(after.getAs[String]("lang") === "x",
      "null-pattern swap was not detected as a change")
    assert(!after.schema.fieldNames.contains("text") ||
      after.isNullAt(after.fieldIndex("text")))
  }

  test("maintenance on a manifest-less zone leaves unchanged shards' mtimes alone") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("nomanifest-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("nomanifest-export")
    val first = ExportJob.writeTrainingShardsIncremental(spark, corpus, out).collect()
    // a crash between the creating write's shards and its manifest (the
    // marker, committed first, is present: only the diff basis is missing)
    assert(new File(out, "_graft_manifest.tsv").delete())
    val victimShard = first.head.getAs[Long]("shard_id")
    val victims = first.filter(_.getAs[Long]("shard_id") == victimShard)
      .take(1).map(_.getAs[Long]("doc_id")).toSeq
    // an absent id targeting ANOTHER shard: with an empty diff basis that
    // shard read as changed and rewrote byte-identically (mtime bump)
    val absentId = Iterator.from(2000000).map(_.toLong)
      .find(id => ExportJob.shardOf(id) != victimShard).get
    val bystanderShard = ExportJob.shardOf(absentId)
    Thread.sleep(1100)
    val t0 = shardMtimes(out)
    ExportJob.deleteFromShards(spark, out, victims :+ absentId)
    val t1 = shardMtimes(out)
    assert(t1(s"shard_id=$victimShard") > t0(s"shard_id=$victimShard"),
      "the real victim's shard must rewrite")
    assert(t1(s"shard_id=$bystanderShard") === t0(s"shard_id=$bystanderShard"),
      "an unchanged shard rewrote under the empty manifest basis")
  }

  test("a headerless manifest reads as unknown version: legacy zones re-fingerprint visibly") {
    // zones written before the version header may hold v1-ENCODED
    // fingerprints; parsing them as current would diff against a stale
    // basis and silently rewrite every touched shard ONCE with no signal.
    // Headerless must therefore read as empty (unknown version) and take
    // the documented VISIBLE path: one full re-fingerprint re-export.
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("headerless-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("headerless-export")
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    val mf = new File(out, "_graft_manifest.tsv").toPath
    val lines = java.nio.file.Files.readAllLines(mf)
    assert(lines.get(0).startsWith("#graft_fp_"), "manifest must carry a version header")
    // strip the header, keep the (possibly v1-encoded) fingerprint rows
    // (drop the local FS's checksum sidecar too — the edit simulates a
    // zone WRITTEN headerless by the old code, not a corrupted file)
    java.nio.file.Files.write(mf,
      String.join("\n", lines.subList(1, lines.size)).getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      new File(out, "._graft_manifest.tsv.crc").toPath)
    Thread.sleep(1100)
    val t0 = shardMtimes(out)
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    val t1 = shardMtimes(out)
    for ((d, m) <- t0)
      assert(t1(d) > m, s"$d kept its mtime: headerless rows were trusted as current")
    // the re-export restored the header, so the NEXT run is idempotent again
    assert(java.nio.file.Files.readAllLines(mf).get(0).startsWith("#graft_fp_"))
    Thread.sleep(1100)
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    assert(shardMtimes(out) === t1, "re-fingerprinted zone must be idempotent again")
  }

  test("a later delete self-heals a phantom manifest entry left by a crash") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("phantom-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("phantom-export")
    val first = ExportJob.writeTrainingShardsIncremental(spark, corpus, out).collect()
    // simulate a crash between a delete's directory drop and its manifest
    // write: the directory is gone but the manifest still lists the shard
    val victim = first.head.getAs[Long]("shard_id")
    val d = new File(out, s"shard_id=$victim")
    d.listFiles().foreach(_.delete()); assert(d.delete())
    val manifest = new String(java.nio.file.Files.readAllBytes(
      new File(out, "_graft_manifest.tsv").toPath))
    assert(manifest.linesIterator.exists(_.startsWith(s"$victim\t")),
      "fixture must start with the phantom entry present")
    // a delete whose victims hash to that shard finds no rows there but
    // must still prune the phantom entry instead of keeping it forever
    val ids = first.filter(_.getAs[Long]("shard_id") == victim)
      .map(_.getAs[Long]("doc_id")).toSeq
    ExportJob.deleteFromShards(spark, out, ids)
    val after = new String(java.nio.file.Files.readAllBytes(
      new File(out, "_graft_manifest.tsv").toPath))
    assert(!after.linesIterator.exists(_.startsWith(s"$victim\t")),
      "phantom manifest entry survived the delete")
    // and the next incremental export reinstates the shard cleanly
    Thread.sleep(1100)
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    assert(new File(out, s"shard_id=$victim").isDirectory)
    assert(spark.read.json(out).count() === first.length.toLong)
  }

  /** Every operation on a populated zone without a marker — export,
    * delete, upsert, reshard — throws naming the repair before it touches
    * anything: no file's path, length or mtime moves and no marker is
    * written. `out` may be scheme-qualified.
    */
  private def assertRefusesEveryOp(out: String, corpus: String,
      docId: Long): Unit = {
    import spark.implicits._
    val before = fsFingerprint(out)
    val ops = Seq[(String, () => Unit)](
      "export" -> (() => ExportJob.writeTrainingShardsIncremental(spark, corpus, out)),
      "export at the written count" -> (() =>
        ExportJob.writeTrainingShardsIncremental(spark, corpus, out,
          requestedShards = Some(8))),
      "delete" -> (() => ExportJob.deleteFromShards(spark, out, Seq(docId))),
      "upsert" -> (() => ExportJob.upsertShards(spark, out,
        Seq((docId, "x", "en", "web")).toDF("doc_id", "text", "lang", "source"))),
      "reshard" -> (() => ExportJob.reshard(spark, out, 5)),
      "same-count reshard" -> (() =>
        ExportJob.reshard(spark, out, ExportJob.IncrementalShards)))
    for ((name, op) <- ops) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("delete the zone and re-export"),
        s"$name: ${e.getMessage}")
      assert(fsFingerprint(out) === before, s"$name touched the zone")
      assert(ExportJob.zoneShards(out) === None, s"$name wrote a marker")
    }
  }

  test("a populated zone without a marker refuses every operation and touches nothing") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("nomarker-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("nomarker-export")
    val first = ExportJob.writeTrainingShardsIncremental(spark, corpus, out,
      requestedShards = Some(8)).collect()
    // shard data and a manifest without a marker: the creating writers
    // commit the marker first, so this is no crash state — the count is
    // unknown, and assuming one would remap docs to the wrong shards
    assert(new File(out, "_graft_shards").delete())
    assertRefusesEveryOp(out, corpus, first.head.getAs[Long]("doc_id"))
    // the named repair: delete the zone and re-export
    graft.core.FsUtil.deleteRecursively(out)
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    assert(ExportJob.zoneShards(out) === Some(ExportJob.IncrementalShards))
    assert(ExportJob.readZone(spark, out).count() === first.length.toLong)
  }

  test("a crash after each creation commit point re-runs to the uncrashed zone") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("commit-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val ref = scratch("commit-ref")
    ExportJob.writeTrainingShardsIncremental(spark, corpus, ref)
    def meta(zone: String, name: String): String =
      new String(java.nio.file.Files.readAllBytes(new File(zone, name).toPath), "UTF-8")
    def state(zone: String) = (
      ExportJob.readZone(spark, zone).collect().map(_.toSeq)
        .sortBy(_.head.asInstanceOf[Long]).toSeq,
      meta(zone, "_graft_shards"), meta(zone, "_graft_manifest.tsv"))
    val want = state(ref)
    // creation commits marker -> shards -> manifest; each point keeps the
    // root entries (checksum sidecars included) that commit leaves behind
    val points = Seq[(String, String => Boolean)](
      "marker" -> (_.contains("_graft_shards")),
      "marker+shards" -> (!_.contains("_graft_manifest.tsv")),
      "marker+shards+manifest" -> (_ => true))
    for (((point, keep), i) <- points.zipWithIndex) {
      val out = scratch(s"commit-point-$i")
      for (entry <- new File(ref).listFiles() if keep(entry.getName))
        org.apache.commons.io.FileUtils.copyToDirectory(entry, new File(out))
      ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
      assert(state(out) === want, s"re-run after a crash at '$point'")
    }
  }

  test("reshard migrates the zone: same rows, new count, honest manifest, working maintenance") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("reshard-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("reshard-export")
    val first = ExportJob.writeTrainingShardsIncremental(spark, corpus, out).collect()
    val before = first
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("lang"), r.getAs[String]("source"))).sortBy(_._1)

    // no-op: resharding to the CURRENT count touches nothing
    val t0 = shardMtimes(out)
    ExportJob.reshard(spark, out, ExportJob.IncrementalShards)
    assert(shardMtimes(out) === t0, "same-count reshard rewrote the zone")

    val newCount = 5
    ExportJob.reshard(spark, out, newCount)
    assert(ExportJob.zoneShards(out) === Some(newCount))
    // round-trip THROUGH THE POINTER: exactly the same rows, now under
    // the new assignment (the live layout is a hidden versioned dir —
    // readZone is the read API for maintained zones)
    val back = ExportJob.readZone(spark, out)
      .select(col("doc_id").cast("long"), col("text"), col("lang"),
        col("source"), col("shard_id").cast("long")).collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getString(3))).sortBy(_._1).toSeq === before.toSeq)
    val newRoot = ExportJob.zoneDataRoot(out)
    assert(newRoot != out, "reshard did not publish a versioned layout")
    val dirs = new java.io.File(newRoot).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard_id=")).sorted
    assert(dirs.forall(_.stripPrefix("shard_id=").toLong < newCount))
    assert(back.forall(r =>
      r.getLong(4) === ExportJob.shardOf(r.getLong(0), newCount)),
      "a row's directory disagrees with the stable hash at the new count")

    // manifest honesty: a re-export from the unchanged corpus sees zero
    // changed shards under the NEW layout
    Thread.sleep(1100)
    val t1 = shardMtimes(out)
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    assert(shardMtimes(out) === t1, "post-reshard manifest was not honest")

    // idempotence: rerunning the same migration is a no-op
    ExportJob.reshard(spark, out, newCount)
    assert(shardMtimes(out) === t1, "repeat reshard rewrote the zone")

    // maintenance derives the new count from the marker: delete a doc and
    // only its NEW shard rewrites
    val victim = before.head._1
    val vShard = ExportJob.shardOf(victim, newCount)
    Thread.sleep(1100)
    ExportJob.deleteFromShards(spark, out, Seq(victim))
    val t2 = shardMtimes(out)
    for ((d, m) <- t1)
      if (d == s"shard_id=$vShard") assert(t2(d) > m, "victim shard not rewritten")
      else assert(t2(d) === m, s"shard $d rewrote under the wrong modulus")
    assert(!ExportJob.readZone(spark, out).filter(col("doc_id") === victim)
      .collect().nonEmpty, "victim survived the post-reshard delete")
  }

  test("reshard swap is reader-atomic: a pre-swap resolution reads a complete layout until vacuum") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("reshard-atomic-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("reshard-atomic-export")
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    val rows = ExportJob.readZone(spark, out).count()

    // a reader resolves the zone BEFORE the migration...
    val rootBefore = ExportJob.zoneDataRoot(out)
    assert(rootBefore === out, "never-resharded zone must resolve flat")
    ExportJob.reshard(spark, out, 5)
    // ...and after the swap its resolved path still reads the COMPLETE
    // old layout (the superseded copy is retained; the pointer write was
    // the only mutation) — old-or-new, never a missing path
    assert(spark.read.json(rootBefore).count() === rows,
      "pre-swap reader lost its layout mid-migration")
    val rootAfter = ExportJob.zoneDataRoot(out)
    assert(rootAfter != rootBefore)
    assert(ExportJob.readZone(spark, out).count() === rows)

    // vacuum (readers quiesced): flat remnants reclaimed, live layout kept
    ExportJob.vacuumLayouts(out)
    val atRoot = new File(out).listFiles().map(_.getName)
    assert(!atRoot.exists(_.startsWith("shard_id=")),
      "vacuum left superseded flat shard directories")
    assert(!atRoot.contains("_graft_manifest.tsv") &&
      !atRoot.contains("_graft_shards"),
      "vacuum left superseded flat metadata")
    assert(ExportJob.readZone(spark, out).count() === rows)
    assert(ExportJob.zoneShards(out) === Some(5))

    // second migration: the versioned predecessor is likewise retained
    // for its readers, then reclaimed by vacuum
    ExportJob.reshard(spark, out, 7)
    assert(spark.read.json(rootAfter).count() === rows,
      "pre-swap reader of a versioned layout lost it mid-migration")
    assert(ExportJob.zoneDataRoot(out) != rootAfter)
    ExportJob.vacuumLayouts(out)
    assert(!new File(rootAfter).exists(), "vacuum kept a superseded layout")
    assert(ExportJob.readZone(spark, out).count() === rows)
    assert(ExportJob.zoneShards(out) === Some(7))
  }

  test("reshard is crash-consistent: unpublished staging is swept, the pointer pins the survivor") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("reshard-crash-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("reshard-crash-export")
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    val rows = ExportJob.readZone(spark, out).count()

    // (a) crash MID-STAGING before the pointer write: the half-built
    // versioned dir is never referenced — the zone still resolves flat
    // and reads whole, and the rerun sweeps the debris then completes
    val staleStaging = new java.io.File(out, "_layout_v1")
    java.nio.file.Files.createDirectories(staleStaging.toPath)
    java.nio.file.Files.write(staleStaging.toPath.resolve("junk"), Array[Byte](1))
    assert(ExportJob.zoneDataRoot(out) === out)
    assert(ExportJob.readZone(spark, out).count() === rows)
    ExportJob.reshard(spark, out, 5)
    assert(!staleStaging.toPath.resolve("junk").toFile.exists(),
      "crashed staging debris survived the rerun")
    assert(ExportJob.zoneShards(out) === Some(5))
    assert(ExportJob.readZone(spark, out).count() === rows)

    // (b) crash AFTER the pointer write, before any vacuum: the new
    // layout is live, the old one is debris — a same-count rerun is a
    // no-op and a later migration's entry sweep reclaims stale versions
    ExportJob.reshard(spark, out, 5) // same-count no-op path
    assert(ExportJob.zoneShards(out) === Some(5))
    val v1 = ExportJob.zoneDataRoot(out)
    ExportJob.reshard(spark, out, 7) // v1 retained for readers
    assert(new java.io.File(v1).isDirectory)
    ExportJob.reshard(spark, out, 5) // entry sweep drops non-pointed v1
    assert(!new java.io.File(v1).exists(),
      "superseded layout survived the next migration's entry sweep")
    assert(ExportJob.readZone(spark, out).count() === rows)
    assert(ExportJob.zoneShards(out) === Some(5))

    // (c) a fully-staged but unpublished layout (crash in the instant
    // before the pointer write): maintenance keeps resolving the pointed
    // layout; the next migration sweeps the orphan
    val cur = ExportJob.zoneDataRoot(out)
    val orphanName = "_layout_v99"
    val orphan = new java.io.File(out, orphanName)
    java.nio.file.Files.createDirectories(orphan.toPath)
    java.nio.file.Files.write(orphan.toPath.resolve("stale"), Array[Byte](1))
    assert(ExportJob.zoneDataRoot(out) === cur)
    ExportJob.reshard(spark, out, ExportJob.zoneShards(out).get) // no-op count
    assert(!orphan.exists(), "unpublished orphan layout not swept")
    assert(ExportJob.readZone(spark, out).count() === rows)
  }

  test("corrupt, dangling, or lost layout pointers fail loudly and destroy nothing") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("ptr-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val out = scratch("ptr-export")
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out)
    val rows = ExportJob.readZone(spark, out).count()
    ExportJob.reshard(spark, out, 5)
    ExportJob.vacuumLayouts(out)
    val live = new File(ExportJob.zoneDataRoot(out))
    val pointer = new File(out, "_graft_layout")

    def writePointer(s: String): Unit = {
      // drop the Hadoop checksum sidecar: hand-editing the pointer with
      // java.nio leaves the FS-written .crc stale, and the local
      // ChecksumFileSystem would fail the read with a ChecksumException
      // instead of exercising the contract under test
      new File(out, "._graft_layout.crc").delete()
      java.nio.file.Files.write(pointer.toPath, s.getBytes)
    }

    // CORRUPT pointer: vacuum must refuse BEFORE deleting — a garbage
    // value matches no directory name, so an unvalidated sweep would have
    // deleted every layout including the live one and returned success
    writePointer("_layout_v")
    intercept[IllegalArgumentException] { ExportJob.vacuumLayouts(out) }
    assert(live.isDirectory, "vacuum destroyed the live layout on a corrupt pointer")
    intercept[IllegalArgumentException] { ExportJob.reshard(spark, out, 7) }
    assert(live.isDirectory, "reshard's sweep destroyed the live layout on a corrupt pointer")

    // DANGLING pointer (names a missing dir): same refusal, and a retained
    // predecessor layout must survive as the recovery copy
    writePointer("_layout_v9\n")
    intercept[IllegalArgumentException] { ExportJob.vacuumLayouts(out) }
    intercept[IllegalArgumentException] { ExportJob.reshard(spark, out, 7) }
    assert(live.isDirectory, "the recovery copy was swept under a dangling pointer")

    // LOST pointer (the non-atomic-fallback crash window): versioned dirs
    // with no pointer and no flat layout must NOT resolve as a fresh flat
    // zone — that is the silent-remap hazard — but refuse, naming the repair
    assert(pointer.delete())
    val e = intercept[IllegalStateException] { ExportJob.zoneShards(out) }
    assert(e.getMessage.contains("no _graft_layout pointer"))
    intercept[IllegalStateException] {
      ExportJob.deleteFromShards(spark, out, Seq(1L))
    }
    // the named repair restores the zone fully
    writePointer(live.getName + "\n")
    assert(ExportJob.readZone(spark, out).count() === rows)
    assert(ExportJob.zoneShards(out) === Some(5))
  }

  test("zone metadata works on a scheme-qualified path (the hdfs/s3a deployment shape)") {
    // the r13 finding: a java.io.File metadata layer on a scheme path
    // silently sees NOTHING — a populated zone reads as new and is
    // rewritten under a possibly-wrong count. Everything here runs the
    // Hadoop FS route with an explicit file: scheme.
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val corpus = scratch("scheme-corpus")
    docs.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val outLocal = scratch("scheme-export")
    val out = "file:" + outLocal
    val first = ExportJob.writeTrainingShardsIncremental(spark, corpus, out,
      requestedShards = Some(8)).collect()
    // the marker is visible THROUGH THE SCHEME and on the local disk
    assert(ExportJob.zoneShards(out) === Some(8))
    assert(new File(outLocal, "_graft_shards").exists())
    assert(new File(outLocal, "_graft_manifest.tsv").exists())

    // idempotence through the scheme: nothing rewrites
    Thread.sleep(1100)
    val t0 = shardMtimes(out)
    ExportJob.writeTrainingShardsIncremental(spark, corpus, out,
      requestedShards = Some(8))
    assert(shardMtimes(out) === t0, "unchanged re-export rewrote a shard")

    // the remap hazard itself: marker gone, every operation must refuse
    // — on the scheme path the old local-FS layer saw an empty layout
    // and would have treated the populated zone as new
    val marker = new File(outLocal, "_graft_shards").toPath
    val markerBytes = java.nio.file.Files.readAllBytes(marker)
    java.nio.file.Files.delete(marker)
    assertRefusesEveryOp(out, corpus, first.head.getAs[Long]("doc_id"))
    // restore the marker by hand (same bytes, so its checksum sidecar
    // still matches) and the zone resolves through the scheme again
    java.nio.file.Files.write(marker, markerBytes)
    assert(ExportJob.zoneShards(out) === Some(8))

    // targeted delete via the scheme: victim gone, only its shard moved
    val victim = first.head.getAs[Long]("doc_id")
    val vShard = ExportJob.shardOf(victim, 8)
    Thread.sleep(1100)
    val t1 = shardMtimes(out)
    ExportJob.deleteFromShards(spark, out, Seq(victim))
    val t2 = shardMtimes(out)
    assert(t2(s"shard_id=$vShard") > t1(s"shard_id=$vShard"))
    for ((d, m) <- t1 if d != s"shard_id=$vShard")
      assert(t2(d) === m, s"shard $d rewrote through the scheme path")
    assert(ExportJob.readZone(spark, out)
      .filter(col("doc_id") === victim).count() === 0)

    // upsert + reshard + vacuum complete the family on the scheme path
    import spark.implicits._
    ExportJob.upsertShards(spark, out,
      Seq((777777L, "hello", "en", "web")).toDF("doc_id", "text", "lang", "source"))
    assert(ExportJob.readZone(spark, out)
      .filter(col("doc_id") === 777777L).count() === 1)
    val rows = ExportJob.readZone(spark, out).count()
    ExportJob.reshard(spark, out, 5)
    assert(ExportJob.zoneShards(out) === Some(5))
    assert(ExportJob.zoneDataRoot(out).startsWith("file:"))
    ExportJob.vacuumLayouts(out)
    assert(ExportJob.readZone(spark, out).count() === rows)
    assert(!new File(outLocal).listFiles().map(_.getName)
      .exists(_.startsWith("shard_id=")), "vacuum missed flat remnants")
  }
}
