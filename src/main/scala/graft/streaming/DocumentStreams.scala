package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming document ingestion + exact dedup (§2.10-plus): the batch
  * exact-dedup operator (graft.queries.Dedup d1) as a Structured Streaming
  * stateful aggregation, for corpora that ARRIVE continuously — the shape a
  * training-data pipeline actually runs (crawl output lands in files; the
  * dedup ledger must absorb each batch incrementally, not rescan the corpus).
  *
  * Scale design: the digest is computed BEFORE the stateful aggregation, so
  * neither the shuffle nor the state store ever holds document text — state
  * is one (16-byte digest → two longs) entry per DISTINCT document, the same
  * working set the batch groupBy's shuffle carries. That state is inherently
  * unbounded for global exact dedup (a new distinct doc can always arrive);
  * when the product only needs dedup within a time horizon,
  * `dropDuplicatesWithinWatermark` on the same digest column is the bounded
  * variant — this operator keeps global semantics so it can share d1's
  * oracle.
  */
object DocumentStreams {

  /** documents.parquet read schema (TESTDATA.md). */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Resolve a (dir, glob) table selection for a file-stream source —
    * shared by every zone reader here and [[EventStreams.readEvents]].
    * A WILDCARD glob filters leaf file names under `dir` (the spec/
    * harness shape: a flat dir of slice files). A non-wildcard glob
    * names the TABLE, whose on-disk layout decides the route:
    *  - a DIRECTORY (`dir/table.parquet/part-*.parquet`, what every
    *    Spark writer produces) streams from the table path directly —
    *    `pathGlobFilter` matches only leaf FILE names, so it silently
    *    selected NOTHING on this layout and the stream read an empty
    *    zone (caught by the r16 x10 gate: st16 returned 0 rows on the
    *    replicated corpus);
    *  - a single FILE (the driver fixtures' layout) keeps the
    *    glob-under-dir route, because Spark's file-stream source
    *    requires its path to be a directory ('basePath' contract).
    * A missing table also takes the glob route, so the error surface
    * (a loud empty-schema/basePath failure, never a silent empty
    * stream) is the source's own.
    */
  private[streaming] def sourceFor(spark: SparkSession,
      r: org.apache.spark.sql.streaming.DataStreamReader,
      dir: String, glob: String): DataFrame =
    if (glob.contains("*")) r.option("pathGlobFilter", glob).parquet(dir)
    else {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$glob")
      val isDir =
        try p.getFileSystem(spark.sessionState.newHadoopConf())
          .getFileStatus(p).isDirectory
        catch { case _: java.io.FileNotFoundException => false }
      if (isDir) r.parquet(p.toString)
      else r.option("pathGlobFilter", glob).parquet(dir)
    }

  /** Replay a documents parquet zone as a stream. Same knobs as
    * [[EventStreams.readEvents]]: the glob selects the table out of the
    * shared sf dir, `maxFilesPerTrigger` forces multi-batch replay in specs.
    */
  def readDocuments(spark: SparkSession, dir: String,
      glob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    sourceFor(spark, r, dir, glob)
  }

  /** embeddings.parquet read schema (TESTDATA.md). */
  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Replay an embeddings parquet zone as a stream (st16's vector-ingest
    * input; same knobs as [[readDocuments]]).
    */
  def readEmbeddings(spark: SparkSession, dir: String,
      glob: String = "embeddings.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(embSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    sourceFor(spark, r, dir, glob)
  }

  /** [[docSchema]] plus an `event_ts` ingest-time column — the shape the
    * bounded dedup variant consumes (global dedup needs no clock).
    */
  val docSchemaWithTs: StructType =
    StructType(docSchema.fields :+ StructField("event_ts", TimestampType))

  /** Replay a timestamped documents zone as a stream (bounded-dedup input). */
  def readDocumentsWithTs(spark: SparkSession, dir: String,
      glob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(docSchemaWithTs)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    sourceFor(spark, r, dir, glob)
  }

  /** BOUNDED-STATE twin of [[dedupGroups]]: `dropDuplicatesWithinWatermark`
    * on the same digest, deduping only within a time horizon. Append mode
    * emits each digest's FIRST-SEEN row; a duplicate whose event time falls
    * inside the kept row's `delay` horizon is dropped, and a digest's state
    * is EVICTED once the watermark passes that horizon — so the state store
    * holds arrival-rate × delay entries instead of one per distinct
    * document ever seen (the global variant's unbounded ledger).
    *
    * When to use which: [[dedupGroups]] is the training-corpus ledger —
    * exact d1 semantics forever, state grows with the distinct corpus,
    * correct where the ledger IS the product. This variant is the
    * crawl-frontier shape — re-fetches cluster in time, and a re-crawl
    * arriving after the horizon SHOULD re-emit (the document may have
    * changed); in exchange, state stays bounded no matter how long the
    * stream runs. BoundedDedupSpec proves both halves (in-horizon collapse,
    * post-horizon re-emit + eviction) under multi-batch file replay.
    */
  def dedupWithinWatermark(docs: DataFrame, delay: String): DataFrame =
    docs
      // a row with no ingest clock cannot be placed on the horizon at all —
      // drop it rather than hand the dedup state machinery a null event
      // time (the same null-event-time posture as every watermarked
      // operator in this tier; the GLOBAL variant needs no clock and keeps
      // such rows)
      .filter(col("event_ts").isNotNull)
      .select(md5(col("text")).as("text_md5"), col("doc_id"), col("event_ts"))
      .withWatermark("event_ts", delay)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Streaming twin of d1: running (keep_doc_id, n_copies) per content
    * digest. Update mode emits a group's refreshed row each micro-batch that
    * touches it; both outputs are MONOTONE (min only falls, count only
    * rises), so collapsing the update log to the final ledger is a plain
    * min/max per digest — no version column needed (contrast the
    * session/attribution streams, whose outputs are not componentwise
    * monotone and carry an explicit `ver`).
    */
  def dedupGroups(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("text_md5"), col("doc_id"))
      .groupBy("text_md5")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))

  final case class DocDigest(doc_id: Long, new_md5: String)
  final case class CdcVerdict(doc_id: Long, status: String)

  /** STREAMING CDC against a snapshot (the stream side of x5's corpus
    * diff): the previous snapshot's per-doc digests are loaded as the
    * state store's INITIAL STATE, and each arriving document of the new
    * snapshot is classified AT ARRIVAL — `added` (no prior digest),
    * `modified` (digest differs), or silence (unchanged) — the upsert
    * feed a downstream incremental consumer (d14's dedup ledger, e5's
    * rollup fold, x4's shard rewrite) actually wants.
    *
    * Arrival-driven CDC cannot observe an ABSENCE, so `removed` is out of
    * scope by construction (the standard log-less CDC contract: deletions
    * need tombstone records or an end-of-stream sweep — which is exactly
    * batch x5). The st12 gate therefore shares x5's oracle restricted to
    * upserts.
    *
    * Shape: digests are computed IN-ROW before the stateful step, so
    * neither shuffle nor state ever holds text — state is one 32-char
    * digest per live doc_id, seeded batch-free via the initial-state
    * overload (no warm-up replay of the old corpus through the stream).
    * Re-upserts across batches compare against the CURRENT ledger value
    * and update it, so a doc modified twice emits `modified` twice and an
    * idempotent redelivery emits nothing. Append mode: verdicts never
    * retract. Same unbounded-ledger posture as [[dedupGroups]] — the
    * ledger IS the product; a horizon-bounded variant would evict via
    * event-time timeout like [[dedupWithinWatermark]].
    */
  def cdcVerdicts(newDocs: DataFrame, oldSnapshot: DataFrame): Dataset[CdcVerdict] = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val digest = graft.operators.CorpusDiff.contentDigest _
    val initial = oldSnapshot
      .select(col("doc_id"), digest(col("text")).as("old_md5"))
      .as[(Long, String)]
      .groupByKey(_._1).mapValues(_._2)
    newDocs
      .select(col("doc_id"), digest(col("text")).as("new_md5")).as[DocDigest]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[String, CdcVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout, initial) {
        case (id, rows, state: GroupState[String]) =>
          var cur = state.getOption
          val out = rows.flatMap { r =>
            val verdict = cur match {
              case None => Some("added")
              case Some(m) if m != r.new_md5 => Some("modified")
              case _ => None
            }
            cur = Some(r.new_md5)
            verdict.map(CdcVerdict(id, _))
          }.toVector
          cur.foreach(state.update)
          out.iterator
      }
  }

  final case class DocArrival(doc_id: Long, new_md5: String,
      event_ts: java.sql.Timestamp)

  /** TTL-BOUNDED twin of [[cdcVerdicts]] — the 100 TB state story. The
    * unbounded ledger above is corpus-sized by contract (one 32-char
    * digest per live doc — ~40 bytes/doc in RocksDB, so a 10^9-doc corpus
    * holds ~40 GB across the cluster's stores, partitioned by doc_id);
    * what actually GROWS over a long-running stream is the arrival-driven
    * tail: every upserted doc's refreshed entry stays forever. This
    * variant bounds that tail with an EVENT-TIME TTL: each arrival
    * re-arms its doc's eviction clock at (event time + ttl), and once the
    * watermark passes it the entry is dropped — steady-state size is
    * snapshot + arrival-rate × ttl, not snapshot + total upserts.
    *
    * Semantics trade, stated plainly: a doc RE-arriving after its entry
    * expired reads `added` instead of `modified`/silence — the standard
    * log-less-CDC cold-cache behavior, and the same re-emit contract as
    * [[dedupWithinWatermark]]'s post-horizon re-crawl. For the upsert
    * feed this distinction is immaterial (x6's upsertShards treats added
    * and modified identically); choose ttl ≥ the redelivery horizon and
    * verdicts match the unbounded variant exactly (CdcTtlSpec pins both
    * halves). CAVEAT — `watermarkDelay` is a SEPARATE mechanism from the
    * TTL and the exact-match claim above additionally requires it to
    * cover the source's out-of-orderness: with the default "0 seconds",
    * any arrival whose event_ts trails the current watermark is dropped
    * BEFORE the stateful operator and its verdict is lost entirely
    * (the unbounded [[cdcVerdicts]] twin, taking no watermark, would
    * still emit it). In-order feeds (this engine's replay fixtures) are
    * unaffected; for a real out-of-order source set watermarkDelay ≥ the
    * max expected lateness, exactly as the other watermarked ops here do. SEEDED entries whose doc never arrives carry no timeout —
    * evicting a seed before its doc's first arrival would silently flip
    * that verdict, so seeds expire only by being refreshed (arrival) or
    * by re-seeding the stream from the next snapshot (the compaction
    * path: periodically restart from batch x5's output, which is how the
    * snapshot side stays current anyway).
    */
  def cdcVerdictsWithTtl(newDocs: DataFrame, oldSnapshot: DataFrame,
      ttlMs: Long, watermarkDelay: String = "0 seconds"): Dataset[CdcVerdict] = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val digest = graft.operators.CorpusDiff.contentDigest _
    val initial = oldSnapshot
      .select(col("doc_id"), digest(col("text")).as("old_md5"))
      .as[(Long, String)]
      .groupByKey(_._1).mapValues(_._2)
    newDocs
      // no ingest clock = no place on the TTL timeline, and the typed
      // state function would NPE on event_ts.getTime — drop the row (the
      // unbounded cdcVerdicts twin takes no clock and classifies it)
      .filter(col("event_ts").isNotNull)
      .withWatermark("event_ts", watermarkDelay)
      .select(col("doc_id"), digest(col("text")).as("new_md5"), col("event_ts"))
      .as[DocArrival]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[String, CdcVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout, initial) {
        case (id, rows, state: GroupState[String]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var cur = state.getOption
            var maxTs = Long.MinValue
            val out = rows.flatMap { r =>
              maxTs = math.max(maxTs, r.event_ts.getTime)
              val verdict = cur match {
                case None => Some("added")
                case Some(m) if m != r.new_md5 => Some("modified")
                case _ => None
              }
              cur = Some(r.new_md5)
              verdict.map(CdcVerdict(id, _))
            }.toVector
            cur.foreach(state.update)
            // arm the eviction clock only on arrivals (maxTs set); clamp
            // above the watermark — a barely-late arrival's (ts + ttl)
            // must still be a legal (future) timeout
            if (maxTs != Long.MinValue)
              state.setTimeoutTimestamp(
                math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** COMPACTION / RE-SEED for the CDC stream — the operational path
    * SCALING.md's st12 story prescribes ("periodically restart from the
    * current clean zone"), made executable: stop the running CDC query,
    * then return a NEW stream classifying `newDocs` against
    * `currentSnapshot` — the clean zone as of the stop, i.e. batch x5's
    * output after the last shard upsert — seeded via the initial-state
    * overload exactly like a first boot. This resets the ledger to
    * snapshot size: every arrival-refreshed entry, TTL'd or not, is
    * dropped and replaced by one digest per live doc, which is what keeps
    * a long-running CDC stream's state proportional to the corpus rather
    * than to its upsert history even when no TTL is configured.
    *
    * THE CHECKPOINT CONTRACT (the one operational footgun): the returned
    * stream MUST be started with a FRESH checkpoint location. Spark binds
    * `initialState` only at a query's FIRST start — a restart from the
    * old checkpoint silently restores the OLD ledger from the checkpoint
    * and ignores the new snapshot entirely, which un-compacts the state
    * and can misclassify docs that changed while the stream was down.
    * Pass the sink's intended `checkpointLocation` and this helper
    * ENFORCES freshness (throws on a non-empty path) instead of merely
    * documenting it; better, start the returned stream through
    * [[startReseeded]], which re-validates AND binds the path into the
    * sink so the validated path and the one actually used cannot
    * diverge. Omit it only when the sink uses a Spark-generated
    * temp checkpoint, which is fresh by construction (the memory-sink
    * drains in tests). CdcReseedSpec pins both halves: post-reseed
    * verdicts equal a fresh batch diff against the compacted snapshot,
    * and in-flight modifications landed in the clean zone read as
    * silence, not as re-emitted `modified` — plus the guard itself.
    *
    * Exactly-once across the handover is the file-source replay contract:
    * arrivals the stopped query already processed are part of the clean
    * zone the new snapshot is built from, so re-classifying them against
    * it yields silence — redelivery across a reseed is idempotent by
    * construction.
    */
  def reseedCdc(running: org.apache.spark.sql.streaming.StreamingQuery,
      newDocs: DataFrame, currentSnapshot: DataFrame,
      ttlMs: Option[Long] = None,
      watermarkDelay: String = "0 seconds",
      checkpointLocation: Option[String] = None): Dataset[CdcVerdict] = {
    checkpointLocation.foreach(requireFreshCheckpoint(newDocs.sparkSession, _))
    running.stop()
    running.awaitTermination()
    ttlMs match {
      case Some(t) => cdcVerdictsWithTtl(newDocs, currentSnapshot, t,
        watermarkDelay)
      case None => cdcVerdicts(newDocs, currentSnapshot)
    }
  }

  /** Start a reseeded stream with the freshness-validated checkpoint BOUND
    * to the sink — the companion that closes [[reseedCdc]]'s validate/use
    * gap: `reseedCdc`'s `checkpointLocation` parameter only CHECKS the
    * path, so a caller could satisfy the guard with one path and still
    * start the query on the old checkpoint (exactly the footgun the guard
    * exists for). Here the path is re-validated immediately before
    * `start()` (shrinking the check-then-use window to the call itself)
    * and then set as the sink's `checkpointLocation` AFTER the caller's
    * sink configuration, so the path that satisfied the guard IS the path
    * the query runs on — the two cannot diverge.
    */
  def startReseeded[T](verdicts: Dataset[T], checkpointLocation: String)(
      sink: org.apache.spark.sql.streaming.DataStreamWriter[T] =>
        org.apache.spark.sql.streaming.DataStreamWriter[T])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    requireFreshCheckpoint(verdicts.sparkSession, checkpointLocation)
    sink(verdicts.writeStream)
      .option("checkpointLocation", checkpointLocation)
      .start()
  }

  /** Refuse a checkpoint path that already has content — the reseed
    * footgun made structural (see [[reseedCdc]]'s checkpoint contract).
    * Hadoop-FS-aware: works for hdfs://, s3a://, and local paths alike.
    */
  private def requireFreshCheckpoint(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(p) || fs.listStatus(p).isEmpty,
      s"reseedCdc requires a FRESH checkpoint location, but $path is " +
        "non-empty: restarting from the old checkpoint would restore the " +
        "stale pre-compaction ledger and ignore the new snapshot")
  }

  final case class BandRow(doc_id: Long, band: Int, bh: Long)
  final case class BandHit(doc_id: Long, band: Int, bh: Long, hit: Boolean)

  /** STREAMING NEAR-DUP DETECTION (the stream side of the d12 LSH dedup
    * verdicts): each arriving document is flagged AT ARRIVAL, per minhash
    * band, as colliding with an earlier document or not — the ingest-time
    * keep/drop signal a crawl pipeline routes on (candidate level: band
    * collision, recall-oriented; the batch d2 verify is the offline
    * refinement over the same buckets).
    *
    * Shape: band hashes are computed IN-ROW (TextDedup.minhashBands, the
    * band stage d12 runs too — one native pass over each document,
    * stateless, no per-doc aggregation state), then the 4 band rows keyed
    * by (band, bh) hit a flatMapGroupsWithState ledger holding ONE long per
    * bucket — the smallest doc_id ever seen there. A doc's band emits
    * hit=true iff the bucket already held a smaller id (state from prior
    * batches, or an earlier doc of the same batch — in-batch rows fold in
    * doc_id order). Append mode: each (doc, band) verdict is emitted
    * exactly once, and per-arrival verdicts never retract — collapsing to
    * per-doc flags is a plain max/sum (EventStreaming.collapseNearDup), no
    * version column.
    *
    * State: one entry per DISTINCT (band, band-hash) bucket ≤ 4x distinct
    * signatures — same unbounded-ledger semantics as [[dedupGroups]] (16
    * bytes/bucket, hashed by bucket so it partitions across a cluster's
    * stores); a horizon-bounded variant would evict buckets via event-time
    * timeout exactly like dedupWithinWatermark's.
    *
    * Replay contract: verdicts depend on ARRIVAL order ("earlier" = seen
    * before you). The d12-shared oracle states survivor = min doc_id,
    * which equals arrival semantics because the replay fixtures arrive in
    * doc_id order (single-file zones trivially; the spec's sliced zones by
    * construction) — out-of-order arrival keeps the arrival-semantics
    * contract, not the oracle's restatement.
    */
  def nearDupBandHits(docs: DataFrame): Dataset[BandHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.TextDedup.minhashBands(docs)
      .select(col("doc_id"), col("band"), col("bh")).as[BandRow]
      .groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState[Long, BandHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, bh), rows, state: GroupState[Long]) =>
          var minSeen = state.getOption.getOrElse(Long.MaxValue)
          val out = rows.toSeq.sortBy(_.doc_id).map { r =>
            val hit = minSeen < r.doc_id
            if (r.doc_id < minSeen) minSeen = r.doc_id
            BandHit(r.doc_id, band, bh, hit)
          }
          state.update(minSeen)
          out.iterator
      }
  }

  final case class TsBandRow(doc_id: Long, band: Int, bh: Long,
    event_ts: java.sql.Timestamp)
  final case class BucketState(minDoc: Long, lastTsMs: Long)

  /** BOUNDED-STATE twin of [[nearDupBandHits]] (st9b; exactly the
    * st6 → st6b relationship): the (band, band-hash) ledger FORGETS a
    * bucket once the watermark passes `horizonMs` past its last arrival —
    * an arriving doc is flagged only against band collisions seen WITHIN
    * the horizon, and a near-dup re-crawled after it re-emits as fresh
    * (the crawl-frontier contract: the page may have changed). State is
    * arrival-rate x horizon buckets instead of one entry per distinct
    * signature ever seen; eviction rides EventTimeTimeout, so idle
    * buckets leave the store without any arriving data.
    *
    * Verdicts are arrival-order semantics by construction (hit = bucket
    * occupied by an earlier un-expired arrival); first-seen-in-horizon
    * has no order-free batch twin, so like st6b this operator is
    * spec-pinned (StreamingNearDupSpec) rather than oracle-registered.
    */
  def nearDupBandHitsWithinWatermark(docs: DataFrame,
      horizonMs: Long): Dataset[BandHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.TextDedup.minhashBands(docs, keep = Seq("event_ts"))
      .select(col("doc_id"), col("band"), col("bh"), col("event_ts"))
      // same null-ingest-clock posture as dedupWithinWatermark: a null
      // event_ts row has no horizon position and would NPE in the typed
      // sort below — drop it (the global nearDupBandHits keeps it)
      .filter(col("event_ts").isNotNull)
      .withWatermark("event_ts", s"$horizonMs milliseconds")
      .as[TsBandRow]
      .groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState[BucketState, BandHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, bh), rows, state: GroupState[BucketState]) =>
          if (!rows.hasNext) {
            // timeout: watermark passed lastTs + horizon with no arrivals
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption
            val out = rows.toSeq
              .sortBy(r => (r.event_ts.getTime, r.doc_id))
              .map { r =>
                val hit = st.isDefined
                st = Some(BucketState(
                  math.min(st.map(_.minDoc).getOrElse(Long.MaxValue), r.doc_id),
                  math.max(st.map(_.lastTsMs).getOrElse(Long.MinValue),
                    r.event_ts.getTime)))
                BandHit(r.doc_id, band, bh, hit)
              }
            state.update(st.get)
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1, st.get.lastTsMs + horizonMs))
            out.iterator
          }
      }
  }

  /** Streaming token-frequency ledger (the stream side of z4's heavy
    * hitters): running exact count per token over everything that has
    * arrived. Update mode re-emits a token's refreshed count each batch
    * that touches it; the count is monotone, so the collapse is max per
    * token (EventStreaming.collapseTokenCounts), and the heavy-hitter
    * THRESHOLD applies at collapse time — "heavy" is a property of a
    * corpus snapshot (freq ≥ total/k with total still growing), not of an
    * arrival.
    *
    * State holds the full vocabulary — deliberately NOT the batch z4's
    * Misra–Gries prune: the prune is only sound when the final total is
    * known (candidates must cover freq ≥ total/k; a stream's total keeps
    * moving, so an in-flight prune can evict a token that later
    * qualifies). Exact streaming frequency pays vocabulary-sized state —
    * sublinear in corpus size by Heaps' law, hashed by token so it
    * partitions across a cluster's stores — or drops to an approximate
    * bounded-state sketch, which would break the shared exact oracle.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
}
