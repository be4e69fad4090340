package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{asc, broadcast, col, count, desc, lit, max, max_by, min, struct, sum}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{DocumentStreams, EventStreams}

/** Streaming replay queries: the event-analytics streams must produce
  * EXACTLY the batch results when the events zone is replayed through them
  * (finite replay, AvailableNow) — so they share the e1/e2 oracles. This is
  * the strongest available check of the streaming operators' semantics:
  * window assignment, watermark bookkeeping, and sessionization state all
  * have to agree with the declarative batch twins row-for-row.
  */
object EventStreaming {

  private val runSeq = new AtomicInteger(0)

  /** st2: watermarked tumbling-hour rollup (streaming e1). Complete output
    * mode — on finite replay the final in-memory table is the full result
    * (append mode would hold back windows past the final watermark).
    */
  def streamHourly(spark: SparkSession, dir: String): DataFrame =
    EventStreams.replayOnce(
      EventStreams.hourlyRollup(EventStreams.readEvents(spark, dir)),
      s"st2_mem_${runSeq.incrementAndGet()}", OutputMode.Complete())
      .orderBy("hour_ts", "event_type")

  /** Collapse versioned update-mode session rows to the final per-user
    * result: the max-version row per user reflects the complete event set.
    */
  def collapseSessions(updates: DataFrame): DataFrame =
    updates
      .groupBy("user_id")
      .agg(max_by(struct(col("n_sessions"), col("n_events")), col("ver")).as("s"))
      .select(col("user_id"), col("s.n_sessions"), col("s.n_events"))
      .orderBy("user_id")

  /** st3: buffered sessionization (streaming e2). Update mode emits one
    * provisional row per user per batch that touched it, tagged with a
    * monotone per-user version; the max-version collapse reproduces the
    * batch result for ANY micro-batch split and ANY cross-batch arrival
    * order.
    */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = EventStreams.readEvents(spark, dir)
      .select("event_id", "user_id", "ts").as[EventStreams.Ev]
    collapseSessions(EventStreams.replayOnce(
      EventStreams.userSessions(evs).toDF(),
      s"st3_mem_${runSeq.incrementAndGet()}", OutputMode.Update()))
  }

  /** Collapse versioned update-mode attribution rows: max-version per
    * purchase (attributions refine but never retract as triggers arrive).
    */
  def collapseAttribution(updates: DataFrame): DataFrame =
    updates
      .groupBy("purchase_id")
      .agg(max_by(
        struct(col("user_id"), col("attributed_id"),
          col("attributed_type"), col("lag_seconds")), col("ver")).as("s"))
      .select(col("purchase_id"), col("s.user_id"), col("s.attributed_id"),
        col("s.attributed_type"), col("s.lag_seconds"))
      .orderBy("purchase_id")

  /** st5: streaming as-of join (attribution) via flatMapGroupsWithState.
    * A purchase past the watermark is emitted once, finally; a buffered one
    * re-emits a provisional attribution per batch, superseded by version —
    * the max-version row per purchase equals batch j1's ASOF JOIN for any
    * arrival order (triggers only accumulate, so attributions refine but
    * never retract).
    */
  def streamAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = EventStreams.readEvents(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select("event_id", "user_id", "ts", "event_type")
      .as[EventStreams.AttrEv]
    collapseAttribution(EventStreams.replayOnce(
      EventStreams.attribution(evs).toDF(),
      s"st5_mem_${runSeq.incrementAndGet()}", OutputMode.Update()))
  }

  /** Collapse update-mode dedup-ledger rows to the final ledger: both
    * columns are monotone per digest (see DocumentStreams.dedupGroups), so
    * min/max — not a version collapse — recovers the last state.
    */
  def collapseDedup(updates: DataFrame): DataFrame =
    updates
      .groupBy("text_md5")
      .agg(min("keep_doc_id").as("keep_doc_id"), max("n_copies").as("n_copies"))
      .orderBy("keep_doc_id")

  /** st6: streaming exact dedup (streaming d1). The documents zone replayed
    * through the stateful digest aggregation must land on exactly the batch
    * dedup ledger — shared oracle with d1.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    collapseDedup(EventStreams.replayOnce(
      DocumentStreams.dedupGroups(DocumentStreams.readDocuments(spark, dir)),
      s"st6_mem_${runSeq.incrementAndGet()}", OutputMode.Update()))

  /** st7: streaming chunking (streaming t15). The chunker is a STATELESS
    * per-row fan-out, so the streaming form is the strongest kind of
    * incremental operator: Append mode, no state store, no watermark —
    * each arriving document emits its chunks exactly once, and the
    * replayed zone lands on exactly the batch chunk set (shared t15
    * oracle). This is the incremental path of the corpus pipeline: new
    * crawl files chunk as they arrive instead of re-scanning the corpus.
    */
  def streamChunks(spark: SparkSession, dir: String): DataFrame =
    EventStreams.replayOnce(
      Sampling.chunkTokens(DocumentStreams.readDocuments(spark, dir)),
      s"st7_mem_${runSeq.incrementAndGet()}", OutputMode.Append())
      .orderBy("doc_id", "chunk_id")

  /** Collapse append-mode per-(doc, band) near-dup hits to per-doc
    * verdicts: a doc is a near-dup candidate iff ANY band hit an earlier
    * doc. Hits are emitted exactly once and never retract (Append mode),
    * so the collapse is a plain max/sum — no version column.
    */
  def collapseNearDup(hits: DataFrame): DataFrame =
    hits
      .groupBy("doc_id")
      .agg(max(col("hit").cast("int")).as("is_near_dup"),
        sum(col("hit").cast("long")).as("n_hit_bands"))
      .orderBy("doc_id")

  /** st12: streaming CDC verdicts (streaming x5). The previous snapshot's
    * digests seed the state store via the initial-state overload; the new
    * snapshot (the same deterministic perturbation x5 applies, built on
    * the STREAM) replays through, and each doc is classified added/
    * modified at arrival. Gate: x5's oracle restricted to upserts —
    * arrival-driven CDC cannot see an absence (DocumentStreams.cdcVerdicts
    * scaladoc), so `removed` stays batch x5's job.
    */
  def streamCdc(spark: SparkSession, dir: String): DataFrame = {
    val old = graft.core.Tables(spark, dir).documents.select("doc_id", "text")
    val stream = DocumentStreams.readDocuments(spark, dir)
      .select("doc_id", "text")
    EventStreams.replayOnce(
      DocumentStreams.cdcVerdicts(Sampling.nextSnapshotOf(stream), old).toDF(),
      s"st12_mem_${runSeq.incrementAndGet()}", OutputMode.Append())
      .orderBy("doc_id")
  }

  /** st14: STREAMING DRIFT MONITOR (streaming x7). The new release
    * arrives as a stream; its per-(dim, value) counts run as a streaming
    * aggregation (CorpusDrift.dimCounts — the in-row dim explode is
    * mode-agnostic, the count ledger is st8's vocabulary-ledger shape
    * bounded by the dimensions' value domains), collapsed by max (counts
    * are monotone per key in Update mode) and joined against the STATIC
    * old snapshot's counts — so the drift table is live at every batch
    * boundary instead of waiting for a batch job over the finished
    * release. Shared x7 oracle on the drained replay.
    */
  def streamDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.core.Tables(spark, dir).documents
      .select("doc_id", "text", "lang", "source")
    val oldCounts = graft.operators.CorpusDrift
      .dimCounts(docs, Sampling.DriftDims).withColumnRenamed("n", "old_n")
    val stream = DocumentStreams.readDocuments(spark, dir)
      .select("doc_id", "text", "lang", "source")
    val updates = EventStreams.replayOnce(
      graft.operators.CorpusDrift.dimCounts(
        Sampling.nextSnapshotFullOf(stream), Sampling.DriftDims),
      s"st14_mem_${runSeq.incrementAndGet()}", OutputMode.Update())
    // same null-safe value equality as the batch CorpusDrift.report: a
    // both-sides-NULL dimension value is one key, not a vanish+appear pair
    val nw = updates.groupBy("dim", "value").agg(max("n").as("new_n"))
      .alias("__n")
    val o = broadcast(oldCounts).alias("__o")
    nw.join(o,
        col("__n.dim") === col("__o.dim") &&
          col("__n.value") <=> col("__o.value"), "full_outer")
      .select(
        org.apache.spark.sql.functions.coalesce(
          col("__o.dim"), col("__n.dim")).as("dim"),
        org.apache.spark.sql.functions.coalesce(
          col("__o.value"), col("__n.value")).as("value"),
        org.apache.spark.sql.functions.coalesce(col("old_n"),
          org.apache.spark.sql.functions.lit(0L)).as("old_n"),
        org.apache.spark.sql.functions.coalesce(col("new_n"),
          org.apache.spark.sql.functions.lit(0L)).as("new_n"))
      .orderBy("dim", "value")
  }

  /** st13: STREAM-STATIC ENRICHMENT — the one join family the st* set
    * had not covered: each arriving document joins a STATIC dimension
    * (per-source corpus statistics, computed batch-side) — the
    * enrichment shape every ingest pipeline runs (attach source
    * metadata, crawl config, quality priors to arriving rows). The
    * static side re-resolves per micro-batch and BROADCASTS (tiny by
    * definition: dimensions are bounded, streams are not), so the join
    * is stateless — no state store, no watermark, Append mode, each
    * arrival enriched exactly once. Oracle: the same join in one batch
    * SQL statement.
    */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.core.Tables(spark, dir).documents
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("source_docs"),
        sum("n_chars").as("source_chars"))
    val stream = DocumentStreams.readDocuments(spark, dir)
      .select("doc_id", "source", "n_chars")
    EventStreams.replayOnce(
      stream.join(broadcast(dim), "source")
        .select("doc_id", "source", "n_chars", "source_docs", "source_chars"),
      s"st13_mem_${runSeq.incrementAndGet()}", OutputMode.Append())
      .orderBy("doc_id")
  }

  val streamEnrichSql: String =
    """SELECT d.doc_id, d.source, d.n_chars, s.source_docs, s.source_chars
      |FROM documents d
      |JOIN (SELECT source, count(*) AS source_docs,
      |        CAST(sum(n_chars) AS BIGINT) AS source_chars
      |      FROM documents GROUP BY source) s USING (source)
      |ORDER BY d.doc_id""".stripMargin

  /** st15: STREAMING TEMPERATURE MIX (streaming t25) — the one Sampling
    * operator that had no live twin. The mixture pipeline splits exactly
    * as production does: the per-source admission rates are PLANNED
    * offline from the corpus snapshot (|sources| rows — t25's aggregate
    * half, corpus-wide sums a stream cannot see), and ADMISSION is applied
    * per arriving document — a broadcast join on source plus the salted
    * deterministic hash draw, entirely STATELESS, so the stream keeps
    * scan-speed at ingest and the kept set is reproducible at any
    * parallelism (the same doc admits identically in batch and at
    * arrival). Drained replay = batch t25 row-for-row; shared oracle.
    */
  def streamTemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val rates = Sampling.temperatureRates(spark, dir)
    val stream = DocumentStreams.readDocuments(spark, dir)
      .select(col("doc_id"), col("source"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " "))
          .cast("long").as("n_tok"))
    EventStreams.replayOnce(
      Sampling.admitTempMix(stream, broadcast(rates)),
      s"st15_mem_${runSeq.incrementAndGet()}", OutputMode.Append())
      .orderBy("doc_id")
  }

  /** st9: streaming near-dup detection (streaming d12). Each arriving
    * document is flagged at arrival against the (band, band-hash) ledger —
    * the ingest-time LSH dedup decision — and the replayed zone's verdicts
    * must equal the batch d12 result (shared oracle), exactly as st6
    * shares d1's.
    */
  def streamNearDedup(spark: SparkSession, dir: String): DataFrame =
    collapseNearDup(EventStreams.replayOnce(
      DocumentStreams.nearDupBandHits(
        DocumentStreams.readDocuments(spark, dir)).toDF(),
      s"st9_mem_${runSeq.incrementAndGet()}", OutputMode.Append()))

  /** Collapse update-mode token-count rows to the final frequency table
    * (count is monotone per token), then apply z4's relative heavy-hitter
    * threshold against the collapsed total. The total rides in as a 1-row
    * broadcast frame — the threshold is part of the COLLAPSE, computable at
    * any snapshot of the ledger.
    */
  def collapseHeavyHitters(updates: DataFrame): DataFrame = {
    val counts = updates.groupBy("token").agg(max("cnt").as("cnt"))
    counts
      .crossJoin(broadcast(counts.agg(sum("cnt").as("total"))))
      .filter(col("cnt") * Sketches.HhK >= col("total"))
      .select("token", "cnt")
      .orderBy(desc("cnt"), asc("token"))
  }

  /** st8: streaming heavy hitters (streaming z4). The replayed corpus's
    * token-frequency ledger, collapsed and thresholded, must equal the
    * batch two-pass MG-prune + exact-recount result — shared z4 oracle.
    * The pair is the z4 scaladoc's claim made executable: the MG prune is
    * a batch-only optimization; the semantics live in the exact counts.
    */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    collapseHeavyHitters(EventStreams.replayOnce(
      DocumentStreams.tokenCounts(DocumentStreams.readDocuments(spark, dir)),
      s"st8_mem_${runSeq.incrementAndGet()}", OutputMode.Update()))

  /** st10: STREAM-STREAM bounded-range join (streaming j2). Purchases and
    * errors arrive as two independent streams; Spark's symmetric hash join
    * on the covering-bucket key emits each within-60s pair exactly once
    * (Append mode — pairs never retract), and the drained replay must
    * equal the batch bucket join row-for-row — shared j2 oracle. This is
    * the one join family the stateful st* set didn't cover: both sides
    * live, state on both sides, eviction driven by the other side's
    * watermark.
    */
  def streamRangeCorrelation(spark: SparkSession, dir: String): DataFrame =
    EventStreams.replayOnce(
      EventStreams.rangeJoin(
        EventStreams.readEvents(spark, dir),
        EventStreams.readEvents(spark, dir),
        windowUs = 60000000L),
      s"st10_mem_${runSeq.incrementAndGet()}", OutputMode.Append())
      .orderBy("purchase_id", "error_id")

  /** st10b: KEYED stream-stream bounded-range join — st10's production
    * shape (EventStreams.keyedRangeJoin scaladoc has the scale argument):
    * per-USER purchases ⋈ errors within 30 min. The window widens from
    * st10's 60 s because the user key thins pairs ~|users|-fold — the
    * point of the variant — and the fixture needs enough qualifying pairs
    * to gate on; output grows LINEARLY in stream length, measured in
    * STREAMSCALE_r11: 370 → 3,700 → 37,000 pairs at x1/x10/x100 with flat
    * ~30 s wall and linear state/evictions, where keyless st10's k² output
    * wall stops its own study at x10 (SCALING.md's streaming section).
    * Oracle: the same keyed inequality join stated directly in DuckDB.
    */
  def streamKeyedRangeCorrelation(spark: SparkSession, dir: String): DataFrame =
    EventStreams.replayOnce(
      EventStreams.keyedRangeJoin(
        EventStreams.readEvents(spark, dir),
        EventStreams.readEvents(spark, dir),
        windowUs = 1800000000L),
      s"st10b_mem_${runSeq.incrementAndGet()}", OutputMode.Append())
      .orderBy("purchase_id", "error_id")

  val keyedRangeCorrelationSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id,
      |  abs(epoch_us(p.ts) - epoch_us(e.ts)) AS lag_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'error') e
      |  ON p.user_id = e.user_id
      |  AND abs(epoch_us(p.ts) - epoch_us(e.ts)) <= 1800000000
      |ORDER BY purchase_id, error_id""".stripMargin

  /** st11: STREAMING rollup maintenance — e5's `Rollups.fold` driven by
    * `foreachBatch`, the same operator powering both the nightly batch
    * refresh and the continuous stream (the lambda-architecture collapse:
    * one state shape, one fold, two drivers). The events zone is re-split
    * into four INTERLEAVED files (hash of event_id, NOT time ranges) and
    * replayed one file per micro-batch, so hours arrive out of order and
    * partially, across batches — and because the fold is a commutative
    * monoid, the drained state still equals e1's one-shot SQL exactly,
    * with NO watermark and no update-mode state store: order and batching
    * independence is algebra, not bookkeeping. Contrast st2, which needs
    * Spark's windowed state machinery because it must EMIT results
    * mid-stream; the fold pattern instead owns a queryable state table at
    * every batch boundary (what a serving layer reads), at the cost of
    * the collapse living in foreachBatch.
    */
  def streamRollupFold(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Rollups
    val base = graft.core.WorkDirs.target(s"st11/run_${runSeq.incrementAndGet()}")
    graft.core.FsUtil.deleteRecursively(base)
    graft.core.Tables(spark, dir).events
      .repartition(4, org.apache.spark.sql.functions.pmod(col("event_id"),
        org.apache.spark.sql.functions.lit(4)))
      .write.parquet(s"$base/in")
    val keys = Seq("hour", "event_type")
    var state = Rollups.emptyRollup(spark,
      Seq("hour" -> org.apache.spark.sql.types.TimestampType,
        "event_type" -> org.apache.spark.sql.types.StringType))
    val stream = spark.readStream
      .schema(graft.core.Tables(spark, dir).events.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state = Rollups.fold(
          batch.select(
            org.apache.spark.sql.functions.date_trunc("hour", col("ts")).as("hour"),
            col("event_type"), col("value")),
          state, keys).localCheckpoint()
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    state.select(
      org.apache.spark.sql.functions
        .date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
      col("event_type"), col("n_events"),
      org.apache.spark.sql.functions.round(col("total_value"), 2).as("total_value"))
      .orderBy("hour_ts", "event_type")
  }

  /** Collapse update-mode per-cell census rows to the final counts:
    * per-cell vector counts only grow and first_vec_id only shrinks as
    * the stream drains, so max/min over the update versions is the final
    * state — the st6 monotone-collapse discipline.
    */
  def collapseVectorIngest(updates: DataFrame): DataFrame =
    updates
      .groupBy("cell")
      .agg(max("n_vectors").as("n_vectors"),
        min("first_vec_id").as("first_vec_id"))
      .orderBy("cell")

  /** st16: STREAMING VECTOR INGEST — the ANN index-maintenance path as a
    * stream. The coarse quantizer trains batch-side (the same memoized
    * centroids n4/d11/n12 serve from); each arriving embedding assigns its
    * cell in a stateless inline projection and folds into a per-cell
    * stateful census (inverted-list sizes — the quantity an IVF index
    * maintainer watches for cell imbalance and rebuild triggers). Replayed
    * over the embeddings zone it must land on exactly the batch census
    * under the shared quantizer CTE (Similarity.vectorCellCensusSql).
    * State is O(cells) — the provisioning dimension is the quantizer size,
    * never the stream length.
    */
  def streamVectorIngest(spark: SparkSession, dir: String): DataFrame = {
    val assigned = Similarity.assignCellsToStream(spark, dir,
      graft.streaming.DocumentStreams.readEmbeddings(spark, dir))
    val census = assigned.groupBy("cell").agg(
      count(lit(1)).as("n_vectors"), min("vec_id").as("first_vec_id"))
    collapseVectorIngest(EventStreams.replayOnce(
      census, s"st16_mem_${runSeq.incrementAndGet()}", OutputMode.Update()))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st16_stream_vector_ingest" -> (streamVectorIngest _),
    "st14_stream_drift" -> (streamDrift _),
    "st13_stream_enrich" -> (streamEnrich _),
    "st12_stream_cdc" -> (streamCdc _),
    "st11_stream_rollup_fold" -> (streamRollupFold _),
    "st8_stream_heavy_hitters" -> (streamHeavyHitters _),
    "st10_stream_range_join" -> (streamRangeCorrelation _),
    "st10b_stream_keyed_range_join" -> (streamKeyedRangeCorrelation _),
    "st2_stream_hourly" -> (streamHourly _),
    "st3_stream_sessions" -> (streamSessions _),
    "st5_stream_attribution" -> (streamAttribution _),
    "st6_stream_dedup" -> (streamDedup _),
    "st7_stream_chunks" -> (streamChunks _),
    "st9_stream_near_dedup" -> (streamNearDedup _),
    "st15_stream_temperature_mix" -> (streamTemperatureMix _))

  val oracles: Map[String, String] = Map(
    "st16_stream_vector_ingest" -> Similarity.vectorCellCensusSql,
    "st14_stream_drift" -> Sampling.driftReportSql,
    "st13_stream_enrich" -> streamEnrichSql,
    "st12_stream_cdc" -> Sampling.corpusDiffUpsertsSql,
    "st11_stream_rollup_fold" -> Events.hourlyRollupSql,
    "st8_stream_heavy_hitters" -> Sketches.heavyHittersSql,
    "st10_stream_range_join" -> Temporal.rangeCorrelationSql,
    "st10b_stream_keyed_range_join" -> keyedRangeCorrelationSql,
    "st2_stream_hourly" -> Events.hourlyRollupSql,
    "st3_stream_sessions" -> Events.userSessionsSql,
    "st5_stream_attribution" -> Temporal.asofAttributionSql,
    "st6_stream_dedup" -> Dedup.exactDedupSql,
    "st7_stream_chunks" -> Sampling.docChunksSql,
    "st9_stream_near_dedup" -> Dedup.nearDupVerdictsSql,
    "st15_stream_temperature_mix" -> Sampling.temperatureMixSql)
}
