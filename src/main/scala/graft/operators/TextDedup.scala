package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{MinhashBands, TextHash}
import graft.functions.TextHash.hash60

/** Reusable text-deduplication OPERATORS over any (doc_id, text) frame —
  * the generic forms of the d1/d2 query shapes (graft.queries.Dedup
  * re-expresses both through these). Same contract as
  * [[TemporalJoins]]: the fixture queries bind these to the documents
  * table; a user binds them to their own corpus.
  *
  * Scale shapes (unchanged from the query tier, see SCALING.md curves):
  * exact dedup is one shuffle of 16-byte digests; MinHash/LSH shuffles
  * 8-byte shingle hashes into per-doc signatures, equi-joins banded
  * bucket hashes for candidates, and verifies with broadcast candidate
  * sets — the corpus text never shuffles in either operator.
  */
object TextDedup {

  val ShingleK = 8      // char-shingle width
  val NumPerms = 16     // minhash signature length
  val Bands = 4         // LSH bands (x 4 rows each)
  private val RowsPerBand = NumPerms / Bands
  private val P = TextHash.P

  /** Exact dedup groups: keep-first by content digest. One shuffle of
    * (16-byte digest, id) pairs at any corpus size.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Banded LSH hashes from a `(doc_id, sig_0..sig_{NumPerms-1})` frame:
    * one row per (doc, band) with the band's concatenated-signature hash.
    * Shared by the batch aggregate path and the per-row streaming path so
    * the two can never disagree about band values.
    */
  private def bandsOf(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val cat = (0 until RowsPerBand)
        .map(r => col(s"sig_${RowsPerBand * b + r}").cast("string"))
      struct(lit(b).as("band"), hash60(concat_ws(",", cat: _*)).as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bh").as("bh"))
  }

  /** Minhash signatures via explode → ONE hash-aggregate (whole-stage
    * codegen'd; measured 2x faster than the per-row higher-order-function
    * pipeline, whose interpreted lambdas box every element) — the BATCH
    * signature stage. No distinct before the aggregate: minhash minima are
    * unaffected by duplicate shingles, so that shuffle is pure waste.
    */
  private[graft] def minhashSigsAgg(docs: DataFrame): DataFrame = {
    // shingles via explode(sequence) + substring: identical values to
    // charShingles but fully codegen'd — no interpreted transform building
    // a ~|text|-element string array per row before the explode
    // null text emits NO bands, matching the in-row expression path
    // (nullSafeEval -> null array -> posexplode drops the row): without
    // the filter, every null-text doc's all-null signature concat_ws'd to
    // "" and they all shared the same 4 buckets — mutual near-dups in the
    // batch path only, silently diverging from the streaming twin
    val h = Tables.spread(docs.select("doc_id", "text")
        .filter(col("text").isNotNull))
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(1, greatest(length(text) - ${ShingleK - 1}, 1))")).as("i"))
      .select(col("doc_id"),
        (hash60(expr(s"substring(text, i, $ShingleK)")) % P).as("h"))
    val sigAggs = (0 until NumPerms).map { i =>
      min((lit(TextHash.MinhashA(i)) * col("h") + lit(TextHash.MinhashB(i))) % P)
        .as(s"sig_$i")
    }
    h.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
  }

  /** Banded bucket hashes via the batch aggregate path (spec-compared
    * bit-identical to [[minhashBandsInRow]]).
    */
  private[graft] def minhashBandsAgg(docs: DataFrame): DataFrame =
    bandsOf(minhashSigsAgg(docs))

  /** (doc_id, band, bh) computed IN-ROW — the stateless, shuffle-free form
    * of the candidate-bucket stage (used by the st9 streaming near-dup
    * operator; batch twin of the same verdicts: [[nearDupVerdicts]]).
    * The per-shingle loop runs inside the native
    * [[graft.functions.MinhashBands]] expression (a higher-order-function
    * fold over the shingle array was measured 3.5x slower — interpreted
    * lambdas allocating a 16-field struct per shingle). The band array is
    * projected BELOW the posexplode: a generator argument is re-evaluated
    * per emitted element (the d11 ExtractGenerator trap), so the expression
    * must land in the child projection, referenced by attribute.
    */
  def minhashBandsInRow(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val keepCols = keep.map(col)
    // spread BEFORE the per-row shingle loop: a single-file micro-batch (or
    // an unsplit scan) otherwise runs the corpus's entire per-shingle hash
    // work on one core — measured 6.5 s -> 0.7 s at sf0.1. The shuffle
    // moves only the narrow (doc_id, text) rows, exactly like the batch
    // signature stage's spread.
    Tables.spread(docs.select(col("doc_id") +: keepCols :+ col("text"): _*))
      .select(col("doc_id") +: keepCols :+
        MinhashBands.bandsCol(col("text")).as("bhs"): _*)
      .select(col("doc_id") +: keepCols :+ posexplode(col("bhs")): _*)
      .select(col("doc_id") +: keepCols :+
        col("pos").cast("int").as("band") :+ col("col").as("bh"): _*)
  }

  /** Per-doc LSH dedup VERDICT: a doc is a near-dup candidate iff some
    * STRICTLY-earlier doc (smaller doc_id) shares at least one minhash
    * band bucket with it — the keep/drop decision an ingest-time
    * deduplicator applies, at candidate level (recall-oriented: band
    * collision, no Jaccard verify — [[minhashPairs]] is the verified
    * batch refinement over the same buckets).
    *
    * The bucket minimum is a WINDOW over the band rows, not a
    * groupBy-then-rejoin: Spark derives an unshared frame once per
    * consumer, so the join form re-ran the whole signature pipeline
    * (scan → shingle explode → 16-perm aggregate) for EACH side — the
    * window keeps it one derivation, one (band, bh) exchange, one doc_id
    * aggregate. No pair materialization either way; cost is bounded by
    * bucket occupancy exactly like the d2 candidate stage.
    */
  def nearDupVerdicts(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")
    minhashBandsAgg(docs)
      .withColumn("mn", min("doc_id").over(w))
      .groupBy("doc_id")
      .agg(
        max((col("doc_id") > col("mn")).cast("int")).as("is_near_dup"),
        sum((col("doc_id") > col("mn")).cast("long")).as("n_hit_bands"))
  }

  /** An empty near-dup ledger — the zero state [[incrementalVerdicts]]
    * folds batches into. Schema: one surviving minimum doc_id per
    * (band, band-hash) bucket, exactly the st9 streaming ledger's state
    * row, persisted as a table instead of a state store.
    */
  def emptyNearDupLedger(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("band", IntegerType),
        StructField("bh", LongType),
        StructField("min_doc_id", LongType))))
  }

  /** INCREMENTAL dedup verdicts — the batch counterpart of the st9
    * streaming ledger, for scheduled (e.g. nightly) ingest: fold a new
    * batch of docs into a persisted (band, bh, min_doc_id) ledger,
    * returning each new doc's [[nearDupVerdicts]]-shaped verdict against
    * everything EVER ingested plus the updated ledger. Under monotone
    * ingest (doc_ids increase batch over batch — the arrival-sequence
    * convention, same contract as st9), folding batches one at a time
    * yields verdicts IDENTICAL to running [[nearDupVerdicts]] once over
    * the union (spec-pinned), so an ingest pipeline never re-scans its
    * history.
    *
    * Scale shape — per-ingest cost is BATCH-sized, never corpus-sized:
    * the ledger (one row per distinct bucket ever seen — the honest
    * corpus-scale state, same growth st6/st9 document) is only ever
    * SCANNED, never shuffled. The batch's bucket list broadcasts three
    * ways: a semi-join prunes the ledger to touched buckets (batch-sized,
    * then broadcast into the verdict join), an anti-join passes untouched
    * ledger rows through by concatenation, and the touched buckets'
    * minima recompute from batch rows + the pruned slice. The batch's
    * banded signature frame is materialized once (localCheckpoint, the
    * d13 lesson) because both outputs consume it. Callers persist the
    * returned ledger between ingests (parquet bucketed by (band, bh)
    * makes the scan+prune partition-local at any scale).
    */
  def incrementalVerdicts(batch: DataFrame,
      ledger: DataFrame): (DataFrame, DataFrame) = {
    // EAGER localCheckpoint, deliberately (r21 measured the lazy form: no
    // local win, and lazy materialization-on-first-touch lets concurrent
    // consumers — broadcast builds race the main stage — duplicate the
    // batch signature pipeline on a cluster; the d13 lesson says that
    // duplication is the expensive failure mode, so the one small
    // materialization job stays).
    incrementalVerdictsFromBands(minhashBandsAgg(batch).localCheckpoint(),
      ledger)
  }

  /** [[incrementalVerdicts]] for a caller that already holds the batch's
    * MATERIALIZED banded signature frame (doc_id, band, bh). Contract: the
    * frame must be exactly `minhashBandsAgg(batch)` for the ingested batch
    * and must be cheap to re-derive (materialized, or a filter over a
    * materialized frame) — every consumer below re-reads it, including two
    * broadcast builds. An ingest driver that signature-computes several
    * pending batches in ONE corpus pass (signatures are per-doc, so
    * slicing the combined frame by the batch key is identical to
    * per-batch computation) folds them through here one at a time without
    * paying one signature scan per batch.
    */
  private[graft] def incrementalVerdictsFromBands(bands: DataFrame,
      ledger: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val shape = bands.schema.map(f => f.name -> f.dataType)
    require(shape == Seq("doc_id" -> LongType, "band" -> IntegerType, "bh" -> LongType),
      s"banded signatures must be (doc_id: long, band: int, bh: long), got ${bands.schema.simpleString}")
    val buckets = bands.select("band", "bh").distinct()
    val touched = ledger
      .join(broadcast(buckets), Seq("band", "bh"), "left_semi")
      .withColumnRenamed("min_doc_id", "ledger_mn")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")
    val x = bands
      .join(broadcast(touched), Seq("band", "bh"), "left")
      .withColumn("mn",
        least(coalesce(col("ledger_mn"), col("doc_id")),
          min("doc_id").over(w)))
    val verdicts = x.groupBy("doc_id").agg(
      max((col("doc_id") > col("mn")).cast("int")).as("is_near_dup"),
      sum((col("doc_id") > col("mn")).cast("long")).as("n_hit_bands"))
    val untouched = ledger.join(broadcast(buckets), Seq("band", "bh"), "left_anti")
    val updated = x.groupBy("band", "bh")
      .agg(min(col("mn")).as("min_doc_id"))
    (verdicts, untouched.unionByName(updated))
  }

  /** CROSS-CORPUS near-dup pairs — fuzzy decontamination: for each doc of
    * `left` (the training corpus), the docs of `right` (the held-out /
    * benchmark corpus) it near-duplicates above `threshold` exact Jaccard
    * over char-[[ShingleK]]-shingle sets, candidates from minhash band
    * collisions. This is [[minhashPairs]]'s recipe across TWO frames — the
    * near-dup extension of exact-gram decontamination (the d8/d10 family):
    * exact n-gram overlap misses paraphrased or lightly-edited benchmark
    * leakage, which band collision + Jaccard verify still catches.
    *
    * Scale shape: the right side is benchmark-sized by definition
    * (thousands of docs, not billions — the same bound that lets d8
    * broadcast its eval gram set), so its banded hashes BROADCAST into the
    * candidate join and its candidate shingle sets broadcast into the
    * verify; the left corpus is scanned once for signatures and once more
    * (pruned at the scan by a broadcast semi-join to candidate train docs
    * — ~pair-count rows, not corpus rows) for verify arrays. The train
    * corpus never shuffles its text and is never self-joined, and there is
    * no train×eval cartesian anywhere: candidates meet only inside
    * (band, band-hash) buckets.
    */
  def crossCorpusPairs(left: DataFrame, right: DataFrame,
      threshold: Double): DataFrame = {
    // Candidate pairs are MATERIALIZED once (localCheckpoint): three
    // downstream branches consume them (both semi-join prunes + the verify
    // join), and Spark shares no work between plan branches, so the lazy
    // form re-ran the full train-side signature pipeline (scan → shingle
    // explode → 16-perm aggregate) once per consumer — measured 29.8 s vs
    // 9.7 s at 500k docs (SCALING.md). The pair set stays DISTRIBUTED
    // (eval-corpus-bounded × bucket occupancy — too big for n4's
    // driver-literal trick, small next to the corpus), only its lineage is
    // truncated.
    val cand = minhashBandsAgg(left)
      .join(broadcast(minhashBandsAgg(right)
        .withColumnRenamed("doc_id", "eval_doc_id")), Seq("band", "bh"))
      .select(col("doc_id").as("train_doc_id"), col("eval_doc_id"))
      .distinct()
      .localCheckpoint()
    // verify: shingle arrays materialized ONLY for candidate docs on both
    // sides (broadcast semi-join prune before the array projection)
    val rCand = cand.select(col("eval_doc_id").as("doc_id")).distinct()
    val rSets = right.join(broadcast(rCand), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("eval_doc_id"),
        expr(s"array_distinct(${TextHash.charShinglesExpr("text", ShingleK)})").as("g2"))
    val lCand = cand.select(col("train_doc_id").as("doc_id")).distinct()
    val lSets = Tables.spread(
      left.join(broadcast(lCand), Seq("doc_id"), "left_semi"))
      .select(col("doc_id").as("train_doc_id"),
        expr(s"array_distinct(${TextHash.charShinglesExpr("text", ShingleK)})").as("g1"))
    val withG2 = rSets.join(broadcast(cand), Seq("eval_doc_id"))
    lSets.join(broadcast(withG2), Seq("train_doc_id"))
      .withColumn("inter", size(array_intersect(col("g1"), col("g2"))))
      .select(col("train_doc_id"), col("eval_doc_id"),
        round(col("inter").cast("double") /
          (size(col("g1")) + size(col("g2")) - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash + LSH near-dup pairs above `threshold` exact Jaccard over
    * char-[[ShingleK]]-shingle sets: explode → one hash-aggregate builds
    * the [[NumPerms]]-permutation signature, [[Bands]] banded hashes
    * equi-join for candidates, and the exact verify intersects broadcast
    * per-doc shingle arrays — materialized ONLY for candidate docs, so
    * the corpus is never shuffled and never re-shingled.
    */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val bands = minhashBandsAgg(docs)
    // candidate pairs MATERIALIZED once (localCheckpoint — the d13 lesson
    // applied to this sibling): cand feeds candDocs, withG1, and pairs,
    // and itself contains the bands self-join, so without it the full
    // scan→shingle→16-perm signature pipeline re-executes per plan branch
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      .localCheckpoint()
    // verify: shingle-set ARRAYS are materialized ONLY for candidate docs
    // (broadcast semi-join before the expensive array projection), then the
    // broadcast candidates intersect them in place — the corpus is never
    // shuffled and never re-shingled
    val candDocs = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    val sets = Tables.spread(
      docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"),
        expr(s"array_distinct(${TextHash.charShinglesExpr("text", ShingleK)})").as("gs"))
    val withG1 = sets.join(broadcast(cand), col("doc_id") === col("d1"))
      .select(col("d1"), col("d2"), col("gs").as("g1"))
    val pairs = sets.join(broadcast(withG1), col("doc_id") === col("d2"))
      .withColumn("inter", size(array_intersect(col("g1"), col("gs"))))
      .select(col("d1"), col("d2"),
        round(col("inter").cast("double") /
          (size(col("g1")) + size(col("gs")) - col("inter")), 4).as("jaccard"))
    pairs.filter(col("jaccard") >= threshold)
  }
}
