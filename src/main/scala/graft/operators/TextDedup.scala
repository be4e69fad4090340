package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{MinhashBands, TextHash}

/** Reusable text-deduplication OPERATORS over any (doc_id, text) frame —
  * the generic forms of the d1/d2 query shapes (graft.queries.Dedup
  * re-expresses both through these). Same contract as
  * [[TemporalJoins]]: the fixture queries bind these to the documents
  * table; a user binds them to their own corpus.
  *
  * Scale shapes (unchanged from the query tier, see SCALING.md curves):
  * exact dedup is one shuffle of 16-byte digests; MinHash/LSH signs each
  * document in one per-row pass ([[minhashBands]]: [[Bands]] hashes per
  * doc, no per-shingle rows, no doc_id aggregate), equi-joins banded
  * bucket hashes for candidates, and verifies with broadcast candidate
  * sets. The only shuffle of text is the round-robin spread before the
  * signing pass.
  */
object TextDedup {

  val ShingleK = 8      // char-shingle width
  val NumPerms = 16     // minhash signature length
  val Bands = 4         // LSH bands (x 4 rows each)

  /** Exact dedup groups: keep-first by content digest. One shuffle of
    * (16-byte digest, id) pairs at any corpus size.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** (doc_id, band, bh): the MinHash band stage of every near-dup
    * operator, batch (d2, d12, d13, d14) and streaming (st9, st9b) alike.
    * Stateless and computed in-row: one output row per (doc, band), no
    * per-shingle rows and no shuffle keyed by doc_id. A null text emits no
    * bands. The per-shingle loop runs inside the native
    * [[graft.functions.MinhashBands]] expression (a higher-order-function
    * fold over the shingle array was measured 3.5x slower — interpreted
    * lambdas allocating a 16-field struct per shingle). The band array is
    * projected BELOW the posexplode: a generator argument is re-evaluated
    * per emitted element (the d11 ExtractGenerator trap), so the expression
    * must land in the child projection, referenced by attribute.
    */
  def minhashBands(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val keepCols = keep.map(col)
    // spread BEFORE the per-row shingle loop: a single-file micro-batch (or
    // an unsplit scan) otherwise runs the corpus's entire per-shingle hash
    // work on one core — measured 6.5 s -> 0.7 s at sf0.1. The shuffle
    // moves only the narrow (doc_id, text) rows.
    // posexplode_OUTER: with null text dropped first, the band array is
    // never null or empty, so it emits exactly posexplode's rows. For the
    // plain generator the optimizer infers `size(bhs) > 0` and pushes it,
    // band expression and all, below the spread, signing every document
    // twice, the first time in the unspread scan task (PlanSpec pins it).
    Tables.spread(docs.select(col("doc_id") +: keepCols :+ col("text"): _*)
        .filter(col("text").isNotNull))
      .select(col("doc_id") +: keepCols :+
        MinhashBands.bandsCol(col("text")).as("bhs"): _*)
      .select(col("doc_id") +: keepCols :+ posexplode_outer(col("bhs")): _*)
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
    * (scan → spread → per-row band pass) for EACH side — the window keeps
    * it one derivation, one (band, bh) exchange, one doc_id aggregate. No
    * pair materialization either way; cost is bounded by bucket occupancy
    * exactly like the d2 candidate stage.
    */
  def nearDupVerdicts(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")
    verdictsOf(minhashBands(docs).withColumn("mn", min("doc_id").over(w)))
  }

  /** Per-doc verdicts from band rows carrying their bucket minimum `mn`. */
  private def verdictsOf(banded: DataFrame): DataFrame =
    banded.groupBy("doc_id").agg(
      max((col("doc_id") > col("mn")).cast("int")).as("is_near_dup"),
      sum((col("doc_id") > col("mn")).cast("long")).as("n_hit_bands"))

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
    * d13 lesson) because the touched-slice join reads it twice, and the
    * joined frame (band rows with their bucket minimum) once more because
    * both outputs aggregate it; both are batch-sized. Callers persist the
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
    incrementalVerdictsFromBands(minhashBands(batch).localCheckpoint(), ledger)
  }

  /** [[incrementalVerdicts]] for a caller that already holds the batch's
    * MATERIALIZED banded signature frame (doc_id, band, bh). Contract: the
    * frame must be exactly `minhashBands(batch)` for the ingested batch
    * and must be cheap to re-derive (materialized, or a filter over a
    * materialized frame) — every consumer below re-reads it, including two
    * broadcast builds. An ingest driver that signature-computes several
    * pending batches in ONE corpus pass (signatures are per-doc, so
    * slicing the combined frame by the batch key is identical to
    * per-batch computation) folds them through here one at a time without
    * paying one signature scan per batch — as d14's driver
    * (`Dedup.incrementalVerdictsQuery`) does. Both inputs' shapes are
    * checked at entry, so the outputs' types are fixed: verdicts
    * (doc_id: long, is_near_dup: int, n_hit_bands: long) and a ledger of
    * the input ledger's shape.
    */
  private[graft] def incrementalVerdictsFromBands(bands: DataFrame,
      ledger: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def shape(f: DataFrame) = f.schema.map(x => x.name -> x.dataType)
    require(shape(bands) == Seq("doc_id" -> LongType, "band" -> IntegerType, "bh" -> LongType),
      s"banded signatures must be (doc_id: long, band: int, bh: long), got ${bands.schema.simpleString}")
    require(shape(ledger) == Seq("band" -> IntegerType, "bh" -> LongType, "min_doc_id" -> LongType),
      s"the ledger must be (band: int, bh: long, min_doc_id: long), got ${ledger.schema.simpleString}")
    // duplicates kept: the semi/anti joins it feeds ignore them, and a
    // distinct cost a shuffle job per use
    val buckets = bands.select("band", "bh")
    val touched = ledger
      .join(broadcast(buckets), Seq("band", "bh"), "left_semi")
      .withColumnRenamed("min_doc_id", "ledger_mn")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")
    // band rows with their bucket minimum over batch + ledger, which both
    // outputs aggregate: MATERIALIZED once, lazily (adaptive execution runs
    // its broadcasts and window exchange when it is marked; the first
    // consumer's job fills it)
    val x = bands
      .join(broadcast(touched), Seq("band", "bh"), "left")
      .select(col("doc_id"), col("band"), col("bh"),
        least(coalesce(col("ledger_mn"), col("doc_id")),
          min("doc_id").over(w)).as("mn"))
      .localCheckpoint(false)
    val untouched = ledger.join(broadcast(buckets), Seq("band", "bh"), "left_anti")
    val updated = x.groupBy("band", "bh")
      .agg(min(col("mn")).as("min_doc_id"))
    (verdictsOf(x), untouched.unionByName(updated))
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
    // form re-ran the full train-side signature pipeline (scan → spread →
    // band pass) once per consumer — measured 29.8 s vs 9.7 s at 500k docs
    // (SCALING.md, then with a shingle-aggregate signature stage). The pair
    // set stays DISTRIBUTED
    // (eval-corpus-bounded × bucket occupancy — too big for n4's
    // driver-literal trick, small next to the corpus), only its lineage is
    // truncated.
    val cand = minhashBands(left)
      .join(broadcast(minhashBands(right)
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
    * char-[[ShingleK]]-shingle sets: the per-row [[minhashBands]] pass
    * signs each doc with [[NumPerms]] permutations, its [[Bands]] banded
    * hashes equi-join for candidates, and the exact verify intersects
    * broadcast per-doc shingle arrays — materialized ONLY for candidate
    * docs, so the corpus is never shuffled and never re-shingled.
    */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val bands = minhashBands(docs)
    // candidate pairs MATERIALIZED once (localCheckpoint — the d13 lesson
    // applied to this sibling): cand feeds candDocs, withG1, and pairs,
    // and itself contains the bands self-join, so without it the full
    // scan → spread → band pass re-executes per plan branch
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
