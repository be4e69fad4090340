package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{BoundedMemo, Tables}
import graft.functions.{Simhash, SimhashUtil, TextHash, VectorLsh}
import graft.functions.VectorOps.dot
import graft.functions.TextHash.{hash60, hash60Sql, P}
import graft.operators.VectorIndex

/** Document deduplication — the training-data-pipeline operator family
  * (extension tier; the reference ships `thefuzz` in `requirements.txt:13`
  * without using it, SURVEY §7.1 step 8 makes fuzzy dedup a first-class
  * engine capability).
  *
  * Scale design: every variant is shuffle-bounded by design —
  *  - exact dedup shuffles once on the content hash (never the content);
  *  - MinHash/LSH turns the O(n²) pair problem into an equi-join on
  *    (band, band_hash) buckets, so only genuine candidates meet;
  *  - SimHash reduces each doc to one 60-bit integer before any pairing;
  *  - n-gram Jaccard joins on shingle values, so cost is proportional to
  *    shared-shingle pairs, not all pairs.
  * Candidate/pair sets are tiny relative to the corpus and are broadcast.
  * All hashing is md5-derived integer arithmetic (graft.functions.TextHash)
  * so each query has an exact DuckDB oracle built from the SAME constants.
  */
object Dedup {

  // Shingle/signature constants live on the generic operator; the SQL
  // twins below interpolate the SAME values, so Spark and the oracle
  // cannot drift (the TextHash pattern).
  private val ShingleK = graft.operators.TextDedup.ShingleK
  private val NumPerms = graft.operators.TextDedup.NumPerms
  private val Bands = graft.operators.TextDedup.Bands
  private val RowsPerBand = NumPerms / Bands

  /** Exact dedup: keep-first by content hash. On 100 TB this is THE first
    * pass — one shuffle on a 16-byte digest, no text ever moves. The
    * generic operator is graft.operators.TextDedup.exactGroups; this
    * binds it to the documents table.
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.exactGroups(Tables(spark, dir).documents)
      .orderBy("keep_doc_id")

  val exactDedupSql: String =
    """SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
      | count(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keep_doc_id""".stripMargin

  /** MinHash + LSH near-dup pairs: shingle-set → 16-perm signature → 4
    * banded hashes → bucket equi-join for candidates → exact Jaccard
    * verify ≥ 0.8.
    *
    * Signature stage: `TextDedup.minhashBands`, one per-row pass of the
    * native `graft_minhash_bands` expression — no per-shingle rows, no
    * doc_id shuffle, and no distinct (MinHash minima are unaffected by
    * duplicate shingles). Verification never touches per-shingle rows: the
    * tiny candidate set is broadcast against per-doc shingle-set ARRAYS
    * and intersected in place, replacing the naive sh⋈sh self-join + two
    * count-table joins.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup
      .minhashPairs(Tables(spark, dir).documents, threshold = 0.8)
      .orderBy("d1", "d2")

  /** Shared oracle prefix (d2 + d12/st9): shingle sets → minhash
    * signatures → banded bucket hashes, from the SAME constants as the
    * Spark paths. Composes as `WITH $minhashBandsCte, <more CTEs> ...`.
    */
  private val minhashBandsCte: String = {
    val sigSelect = (0 until NumPerms).map { i =>
      s"list_min(list_transform(hs, h -> (${TextHash.MinhashA(i)}*h + ${TextHash.MinhashB(i)}) % $P)) AS sig_$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until Bands).map { b =>
      val cat = (0 until RowsPerBand)
        .map(r => s"CAST(sig_${RowsPerBand * b + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, ${hash60Sql(s"($cat)")} AS bh FROM sigs"
    }.mkString("\n    UNION ALL ")
    s"""sets AS (
       |  SELECT doc_id, list_distinct(${TextHash.charShinglesSql("text", ShingleK)}) AS gs
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, list_transform(gs, g -> ${hash60Sql("g")} % $P) AS hs
       |  FROM sets),
       |sigs AS (
       |  SELECT doc_id,
       |    $sigSelect
       |  FROM h),
       |bands AS (
       |    $bandSelects)""".stripMargin
  }

  /** d12/st9: per-doc LSH dedup verdicts (graft.operators.TextDedup
    * .nearDupVerdicts bound to the documents table) — the keep/drop
    * decision of an ingest-time deduplicator, shared as the oracle of the
    * st9 streaming twin exactly as d1 is st6's.
    */
  def nearDupVerdicts(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextDedup.nearDupVerdicts(Tables(spark, dir).documents)
      .orderBy("doc_id")

  val nearDupVerdictsSql: String =
    s"""WITH $minhashBandsCte,
       |m AS (SELECT band, bh, min(doc_id) AS mn FROM bands GROUP BY band, bh)
       |SELECT b.doc_id,
       |  CAST(max(CASE WHEN b.doc_id > m.mn THEN 1 ELSE 0 END) AS INT) AS is_near_dup,
       |  CAST(sum(CASE WHEN b.doc_id > m.mn THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_bands
       |FROM bands b JOIN m ON b.band = m.band AND b.bh = m.bh
       |GROUP BY b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** d14: INCREMENTAL dedup verdicts — `TextDedup.incrementalVerdicts`
    * driven as an ingest simulation: the documents table split into three
    * monotone doc_id ranges, folded batch-by-batch into a ledger that
    * starts empty, per-batch verdicts unioned. The oracle is d12's SQL
    * verbatim — the whole point of the operator is that incremental
    * ingest equals the one-shot batch computation, and the gate checks
    * that equality against an independent engine. The ledger is
    * localCheckpoint'ed between steps exactly as a real pipeline persists
    * it between nightly runs. The corpus is signed ONCE: each step folds
    * its doc_id slice of one checkpointed band frame through
    * `TextDedup.incrementalVerdictsFromBands`, the one incremental step
    * `TextDedup.incrementalVerdicts` also runs.
    */
  def incrementalVerdictsQuery(spark: SparkSession, dir: String): DataFrame = {
    val bands = graft.operators.TextDedup
      .minhashBands(Tables(spark, dir).documents).localCheckpoint()
    // max over no bands is NULL -> getLong would NPE; fail loudly
    val maxRow = bands.agg(max("doc_id")).first()
    require(!maxRow.isNullAt(0),
      "incrementalVerdicts over a documents corpus with no non-null text")
    val maxId = maxRow.getLong(0)
    val (c1, c2) = (maxId / 3, 2 * maxId / 3)
    val batches = Seq(
      bands.filter(col("doc_id") <= c1),
      bands.filter(col("doc_id") > c1 && col("doc_id") <= c2),
      bands.filter(col("doc_id") > c2))
    var ledger = graft.operators.TextDedup.emptyNearDupLedger(spark)
    val outs = batches.map { b =>
      val (v, next) = graft.operators.TextDedup.incrementalVerdictsFromBands(b, ledger)
      // lazy: the next step's touched-slice broadcast fills it
      ledger = next.localCheckpoint(false)
      v
    }
    outs.reduce(_ unionByName _).orderBy("doc_id")
  }

  val minhashLshSql: String = {
    s"""WITH $minhashBandsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |x AS (
       |  SELECT c.d1, c.d2,
       |    len(list_intersect(s1.gs, s2.gs)) AS inter,
       |    len(s1.gs) AS n1, len(s2.gs) AS n2
       |  FROM cand c
       |    JOIN sets s1 ON s1.doc_id = c.d1
       |    JOIN sets s2 ON s2.doc_id = c.d2)
       |SELECT d1, d2,
       |  round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 4) AS jaccard
       |FROM x
       |WHERE round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 4) >= 0.8
       |ORDER BY d1, d2""".stripMargin
  }

  /** Signature width and pigeonhole chunking. 60 bits (the full hash60
    * output) in 4 chunks of 15: any pair within hamming 3 shares ≥1
    * identical chunk (3 flips touch ≤3 of the 4), and the candidate join
    * buckets on 15-bit chunk values — 4 x 32768 = 131072 buckets. The
    * earlier 32-bit/8-bit-chunk variant had only 1024 buckets, a hard
    * cardinality cap that ScaleStress caught as quadratic: at 500k docs
    * every bucket held ~2000 docs and the candidate join intermediate hit
    * ~4B rows. Wide signatures + k=3 is also the canonical web-dedup
    * configuration (Manku/Jain/Sarma, WWW'07, 64-bit simhash, hamming ≤3,
    * block pigeonhole).
    */
  private val SimhashBits = SimhashUtil.Bits
  private val ChunkBits = 15 // 4 chunks
  private val ChunkMask = (1L << ChunkBits) - 1

  /** Per-document 60-bit SimHash over space-split tokens (with repetition —
    * frequency-weighted, the standard formulation), one native
    * [[graft.functions.Simhash]] call per row: spread → drop null texts →
    * project. No token explode, no shuffle on `doc_id` and no per-bit
    * aggregate; the only exchange is the round-robin spread that
    * parallelizes the hashing. d3's plan carries no `Generate` and no
    * `HashAggregate` (PlanSpec pins this).
    *
    * PRECONDITION: `doc_id` is the documents table's key. The oracle twin
    * ([[simhashSigsSql]]) groups tokens BY doc_id, so one signature per
    * ROW equals it only when no two rows share a doc_id. A null text
    * yields no row (the oracle's unnest of a null list yields no token).
    */
  private def simhashSigs(docs: DataFrame): DataFrame =
    Tables.spread(docs.select("doc_id", "text"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), Simhash.simhashCol(col("text")).as("simhash"))

  private val simhashSigsSql: String = {
    val bitSelect = (0 until SimhashBits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS bs_$j")
      .mkString(",\n    ")
    val simExpr = (0 until SimhashBits)
      .map(j => s"(CASE WHEN bs_$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, ${hash60Sql("tok")} AS h FROM toks),
       |bs AS (
       |  SELECT doc_id,
       |    $bitSelect
       |  FROM h GROUP BY doc_id),
       |sims AS (SELECT doc_id, $simExpr AS simhash FROM bs)""".stripMargin
  }

  /** Cap on distinct (session, corpus dir) keys held per memo: a
    * harness touches one or two corpora, a service a handful — beyond
    * that, the LRU entry's consumers have moved on and a recompute on
    * re-visit is the right trade against pinned lineage.
    */
  private val MemoCapacity = 8

  private def newFrameMemo: BoundedMemo[(SparkSession, String), DataFrame] =
    new BoundedMemo(MemoCapacity,
      isDead = kv => kv._1.sparkContext.isStopped,
      onEvict = df => df.unpersist(false))
  private val sigMemo = newFrameMemo

  /** [[simhashSigs]] cached and memoized per (session, table dir): d3, d4,
    * d9 and the t14 capstone read the same signatures, and a Verify/Bench
    * pass runs them back to back, so one corpus scan and one per-row
    * signature pass serve them all. The cached frame is two longs per
    * document. The memo is a [[BoundedMemo]] like the pair and cluster
    * memos: LRU-capped at [[MemoCapacity]] corpora, purged of stopped
    * sessions' keys on every touch, evicted frames unpersisted.
    */
  private def sigsFor(spark: SparkSession, dir: String): DataFrame =
    sigMemo.getOrElseUpdate((spark, dir),
      simhashSigs(Tables(spark, dir).documents).cache())

  /** Verified near-dup pair set (pre-sort), memoized like [[sigsFor]]:
    * d9's clustering (and t14 through it) reuses d4's pair generation
    * instead of re-running the chunk self-join.
    */
  private val pairMemo = newFrameMemo

  /** Drop the signature, pair and cluster memos (benchmark hook:
    * ScaleStress times every query COLD so a scaling curve measures
    * end-to-end cost, not whichever query happened to run first and warm
    * the memo for the rest).
    */
  private[graft] def clearMemos(): Unit = {
    sigMemo.clear()  // clear() releases via the memo's unpersist hook
    pairMemo.clear()
    clusterMemo.clear() // checkpoint-backed, nothing to unpersist
  }

  private def pairsFor(spark: SparkSession, dir: String): DataFrame =
    pairMemo.getOrElseUpdate((spark, dir), {
      val sims = sigsFor(spark, dir)
      val chunkStructs = (0 until 4).map { c =>
        struct(lit(c).as("ci"),
          shiftright(col("simhash"), ChunkBits * c)
            .bitwiseAND(lit(ChunkMask)).as("cv"))
      }
      val chunks = sims
        .select(col("doc_id"), col("simhash"), explode(array(chunkStructs: _*)).as("x"))
        .select(col("doc_id"), col("simhash"), col("x.ci").as("ci"), col("x.cv").as("cv"))
      chunks.as("a")
        .join(chunks.as("b"),
          col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          col("a.simhash").as("s1"), col("b.simhash").as("s2"))
        .distinct()
        .withColumn("hamming", expr("bit_count(s1 ^ s2)"))
        .filter(col("hamming") <= 3)
        .select("d1", "d2", "hamming")
        .cache()
    })

  /** SimHash signatures per document. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    sigsFor(spark, dir).orderBy("doc_id")

  val simhashSql: String =
    s"""WITH $simhashSigsSql
       |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs: hamming distance ≤ 3 between signatures,
    * found WITHOUT an all-pairs join via pigeonhole banding: split the
    * 60-bit signature into 4 15-bit chunks — any pair within hamming 3 has
    * ≥1 identical chunk (3 differing bits touch at most 3 chunks) — and
    * equi-join on (chunk_idx, chunk_val). Candidates are then verified
    * exactly. Same output as the quadratic formulation, but the join
    * shuffles on a small integer key over a 131k-bucket space, so it
    * survives a 100x corpus (measured: ScaleStress x100).
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    pairsFor(spark, dir).orderBy("d1", "d2")

  val simhashPairsSql: String =
    s"""WITH $simhashSigsSql
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY d1, d2""".stripMargin

  /** Grams seen in more documents than this are dropped before the pair
    * join (and from the Jaccard universe, identically in the oracle). A
    * single boilerplate gram shared by d documents creates a d²/2-pair
    * bucket in the self-join; capping d bounds any one gram's bucket to
    * ≤ MaxGramDf²/2 pairs no matter the corpus size. Chosen far above the
    * fixture max DF (25 at sf0.1) so test-scale results are unchanged; at
    * production scale it redefines jaccard over the sub-boilerplate gram
    * vocabulary, which is the standard near-dup practice. The oracle SQL
    * interpolates the same value, so parity holds at any setting
    * (SCALING.md's skew section measures the guard against a build with
    * this value raised).
    */
  val MaxGramDf: Long = 1000L

  /** Word-3-gram Jaccard near-dup pairs ≥ 0.5, candidates = any shared gram.
    * No LSH — this is the exact (more expensive) variant; the join on gram
    * values bounds work by actual overlap, and [[MaxGramDf]] bounds the
    * worst-case bucket a high-document-frequency gram can create.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // null text produces no grams AT ALL: without the filter, size(t) is
    // null, greatest() skips it to 1, and concat_ws over three null tokens
    // collapses to "" — every null-text doc would emit the SAME
    // xxhash64("") gram and pair with every other null-text (and
    // empty-text) doc at jaccard 1.0, while the DuckDB twin's gram for
    // null text is NULL and never equi-joins (same divergence class as the
    // r13 minhash banding fix)
    val toks = Tables.spread(docs.select("doc_id", "text"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    // Grams are hashed to longs INSIDE the per-row transform and deduped
    // doc-locally (array_distinct): the (doc_id, gram) dedup needs no
    // shuffle at all — a gram can only repeat within one document's row —
    // and only 8-byte hashes ever explode or shuffle; the token array is
    // never carried per exploded row. Joining on the 64-bit hash instead
    // of the gram string is the standard scale trade: a cross-doc
    // collision needs ~2^32 distinct grams (birthday bound) to become
    // likely and merely perturbs one intersection count by 1.
    val sh = toks
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(1, greatest(size(t) - 2, 1)),
          |  i -> xxhash64(concat_ws(' ', try_element_at(t, i),
          |    try_element_at(t, i + 1), try_element_at(t, i + 2))))"""
          .stripMargin))).as("g"))
    // DF guard as a count-over-window on g: one exchange+sort of 8-byte
    // longs whose output partitioning BOTH self-join sides then reuse
    // (ReusedExchange) — measured cheaper than a groupBy(g)+semi-join
    // guard, which forks a second exchange chain
    val kept = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("df") <= MaxGramDf)
      .drop("df")
    val counts = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = kept.as("a")
      .join(kept.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      // per-doc counts scale with the corpus: leave broadcast choice to AQE
      .join(counts.as("c1"), col("d1") === col("c1.doc_id"))
      .join(counts.as("c2"), col("d2") === col("c2.doc_id"))
      .select(col("d1"), col("d2"),
        round(col("inter").cast("double") /
          (col("c1.n") + col("c2.n") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("d1", "d2")
  }

  val ngramJaccardSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh0 AS (
       |  SELECT DISTINCT doc_id, g FROM (
       |    SELECT doc_id, unnest(${TextHash.wordNgramsSql("t", 3)}) AS g FROM toks)),
       |sh AS (
       |  SELECT doc_id, g FROM (
       |    SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM sh0)
       |  WHERE df <= $MaxGramDf),
       |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |  round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 4) AS jaccard
       |FROM inter
       |  JOIN counts c1 ON c1.doc_id = d1
       |  JOIN counts c2 ON c2.doc_id = d2
       |WHERE round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 4) >= 0.5
       |ORDER BY d1, d2""".stripMargin

  /** Embedding near-dup: top-20 most-similar SAME-BUCKET vector pairs by
    * cosine, where buckets come from the shared random-hyperplane LSH
    * (graft.functions.VectorLsh, also the n2 ANN path). The bucket equi-join
    * replaces the all-pairs theta join — the quadratic step only happens
    * within buckets, so the plan survives a 100x corpus. Dot products run
    * through the native `graft_dot` codegen expression; it sums
    * left-to-right exactly like a sequential fold, so the DuckDB oracle
    * (list_dot_product) agrees after 4-decimal rounding.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDup(spark, dir, VectorLsh.NumPlanes)

  /** The plane-parameterized form ScaleStress exercises: planes is LSH's
    * bucket-occupancy dial (production sizing ≈ log2(n / target bucket
    * size), per the [[VectorLsh.NumPlanes]] doc). Like d11's K it moves
    * recall/cost, not correctness — each plane count gets its own DuckDB
    * twin via [[embeddingNearDupSqlFor]].
    */
  def embeddingNearDup(spark: SparkSession, dir: String, planes: Int): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      // zero-norm and NaN-norm vectors have no defined cosine: 0/0 = NaN,
      // and BOTH engines rank NaN above every real similarity under
      // ORDER BY cos DESC, so one broken vector would evict every genuine
      // pair from the top-20 (the r13 VectorSearch fix, applied to the
      // batch near-dup report; the twin SQL carries the same guard)
      .filter(col("norm") > 0 && !isnan(col("norm")))
      .withColumn("bucket", VectorLsh.bucketColFor(planes))
    val a = e.select(col("vec_id").as("id1"), col("v").as("v1"),
      col("norm").as("n1"), col("bucket"))
    val b = e.select(col("vec_id").as("id2"), col("v").as("v2"),
      col("norm").as("n2"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos",
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      .select(col("id1"), col("id2"), col("cos"))
      .orderBy(desc("cos"), asc("id1"), asc("id2"))
      .limit(20)
  }

  def embeddingNearDupSqlFor(planes: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, norm, ${VectorLsh.bucketSqlFor(planes)} AS bucket
       |  FROM (SELECT vec_id, v,
       |          sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
       |        FROM e)
       |  WHERE norm > 0 AND NOT isnan(norm))
       |SELECT a.vec_id AS id1, b.vec_id AS id2,
       |  round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) AS cos
       |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |ORDER BY cos DESC, id1, id2 LIMIT 20""".stripMargin

  val embeddingNearDupSql: String =
    embeddingNearDupSqlFor(VectorLsh.NumPlanes)

  // ----------------------------------------------------------------- d11

  /** Same-cell cosine floor for a semantic drop. On the iid-random fixture
    * the densest same-cell cosines sit just above it (2/9/55 drops at
    * sf0.001/0.01/0.1); a production corpus with real semantic structure
    * runs this at ~0.95+.
    */
  private val SemDedupThreshold = 0.45

  /** d11: SEMANTIC dedup, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-partition the embedding space, then drop
    * any vector with a smaller-id same-cell neighbor at cosine ≥
    * [[SemDedupThreshold]] — the embedding-space analogue of d1's
    * keep-min-id rule. The cells come from
    * [[graft.operators.VectorIndex.assignedCorpus]],
    * the SAME Lloyd-refined coarse quantizer n4's IVF index uses: one
    * clustering feeds both the ANN index and the dedup pass, exactly how
    * a production pipeline amortizes the quantizer.
    *
    * Scale shape: the quadratic step runs only WITHIN a cell (SemDeDup's
    * core bargain) — cells hold ~n/K vectors and K grows with the corpus,
    * so per-cell work stays bounded while the global all-pairs join never
    * exists. One shuffle keys vectors by cell; the centroid refinement is
    * broadcast joins against an 8-row table plus (cell, dim)-keyed
    * aggregates. Output is the DROP LIST (vec_id, its cell, and the
    * strongest witness cosine) — the frame a curation pass anti-joins.
    *
    * The rule is the simple single-pass variant: a drop's witness may
    * itself be dropped (1 evicts 2 and 2 evicts 3 even when 1≁3). The
    * spec pins the resulting invariant — no two SURVIVORS in the same
    * cell are within the threshold.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(spark, dir, numCells = 8)

  /** The K-parameterized form ScaleStress exercises. SemDeDup's cost is
    * assignment (n·K dot products against the centroid table) plus
    * within-cell pairing (n²/2K); the sum is minimized at K ≈ √(n/2),
    * where BOTH terms are Θ(n^1.5) — the operator's true growth rate
    * without an ANN-accelerated quantizer. A fixed K makes the pairing
    * quadratic; K ∝ n makes the assignment quadratic (ScaleStress
    * measured both bends). The oracle-checked entry pins K=8 on the
    * 500-vector fixture; the harness runs the √n schedule and SCALING.md
    * records the curve.
    */
  def semanticDedup(spark: SparkSession, dir: String, numCells: Int): DataFrame = {
    // cells + vectors off one scan (assignedCorpus): the previous
    // e ⋈ cells join re-shuffled the whole corpus by vec_id just to pair
    // each vector with its own cell id — assignment is an inline
    // projection now, so the only shuffle left is the by-cell pairing join
    // zero/NaN-norm vectors are excluded BEFORE the pairing: under ANSI
    // (Spark 4's default) the cosine's n1·n2 = 0 denominator raises
    // DIVIDE_BY_ZERO and aborts the whole job on one broken encoder
    // output — and with ANSI off the 0/0 = NaN witness would flag every
    // cell-mate (both engines call NaN >= threshold). Same guard as d6
    // and the n-family prep; the twin SQL carries it too.
    val m = VectorIndex.assignedCorpus(VectorIndex.corpus(spark, dir), numCells)._1
      .filter(col("norm") > 0 && !isnan(col("norm")))
    val a = m.select(col("vec_id").as("id1"), col("v").as("v1"),
      col("norm").as("n1"), col("cell"))
    val b = m.select(col("vec_id").as("id2"), col("v").as("v2"),
      col("norm").as("n2"), col("cell"))
    a.join(b, Seq("cell"))
      .filter(col("id2") < col("id1"))
      .withColumn("cos",
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      // NOT isnan too: a zero-norm vector's 0/0 cosine is NaN, which BOTH
      // engines call >= threshold (NaN is greatest), so one broken vector
      // would mark every cell-mate a "semantic dup" on a NaN witness
      .filter(col("cos") >= SemDedupThreshold && !isnan(col("cos")))
      .groupBy(col("id1"), col("cell"))
      .agg(max("cos").as("max_cos"))
      .select(col("id1").as("vec_id"), col("cell"), col("max_cos"))
      .orderBy("vec_id")
  }

  /** DuckDB twin at any K — ScaleStress dumps this per scale so the
    * engine-to-engine curve comparison runs the identical K schedule.
    */
  def semanticDedupSqlFor(numCells: Int): String =
    s"""${Similarity.cellsCteSqlFor(numCells)},
       |m AS (
       |  SELECT n.vec_id, n.v, n.norm, a.cell
       |  FROM n JOIN assign a USING (vec_id)
       |  WHERE n.norm > 0 AND NOT isnan(n.norm))
       |SELECT a.vec_id, a.cell,
       |  max(round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4)) AS max_cos
       |FROM m a JOIN m b ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  AND round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4)
       |    >= $SemDedupThreshold
       |  AND NOT isnan(round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4))
       |GROUP BY a.vec_id, a.cell
       |ORDER BY a.vec_id""".stripMargin

  lazy val semanticDedupSql: String = semanticDedupSqlFor(8)

  /** Cross-document repeated substrings (the boilerplate/substring-dedup
    * pass): hash every 64-char window at stride 32 and report windows seen
    * in ≥2 distinct documents. Stride-32 detects repeats whose offsets
    * agree mod 32 — whole-document copies, shared prefixes, and
    * fixed-position boilerplate, the dominant cases in page-level corpus
    * dedup; arbitrary-alignment substring dedup is the SAME query at
    * stride 1 (32× the rows, one constant). Pure explode → hash-aggregate
    * on a long — the shuffle carries (doc_id, hash) pairs, never text, and
    * the group-by key domain is the distinct-window space.
    */
  def substringDups(spark: SparkSession, dir: String): DataFrame = {
    val wins = Tables.spread(
      Tables(spark, dir).documents.select("doc_id", "text"))
      .filter(length(col("text")) >= 64)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, (length(text) - 64) DIV 32)")).as("i"))
      .select(col("doc_id"), hash60(expr("substring(text, i * 32 + 1, 64)")).as("wh"))
    wins.groupBy("wh")
      .agg(countDistinct("doc_id").as("n_docs"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("wh")
  }

  val substringDupsSql: String =
    s"""WITH idx AS (
       |  SELECT doc_id, text,
       |    unnest(generate_series(0, CAST((length(text) - 64) // 32 AS INTEGER))) AS i
       |  FROM documents WHERE length(text) >= 64),
       |w AS (
       |  SELECT doc_id, ${hash60Sql("substring(text, i * 32 + 1, 64)")} AS wh
       |  FROM idx)
       |SELECT wh, count(DISTINCT doc_id) AS n_docs,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM w GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY wh""".stripMargin

  /** d9: near-dup CLUSTERS from the d4 simhash pair list — the step between
    * pair generation and keep/drop decisions in a real dedup pipeline
    * (pairs alone can't pick canonicals: doc A~B and B~C must land in ONE
    * group even when A≁C). cluster_id = min doc_id of the component. The
    * oracle states the same result as a recursive-CTE transitive closure,
    * proving the iterative propagation exact, not approximate. The loop
    * is the generic graft.operators.ConnectedComponents operator.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusters(spark, dir)
    // populate the composition memo as a side effect: a session that runs
    // d9 hands its fixpoint to downstream consumers (t14) for free
    clusterMemo.putIfAbsent((spark, dir), labels)
    labels.orderBy("doc_id")
  }

  /** Memoized cluster labels per session+dir for COMPOSING queries (t14's
    * curation join), in the spirit of [[sigsFor]]/[[pairsFor]]: a derived
    * artifact downstream consumers share instead of re-running the
    * iterative loop. [[dupClusters]] itself always computes — its reported
    * cost must stay the true cost of clustering, not a memo read. The
    * loop's output is already materialized (localCheckpoint), so the memo
    * stores the final frame as-is.
    *
    * Concurrency note: TrieMap.getOrElseUpdate is not atomic — two first
    * callers racing on the same (session, dir) could each run the loop once.
    * Output stays correct (the loop is deterministic); the reuse guarantee
    * is best-effort, which is sufficient for the sequential harnesses here.
    */
  private val clusterMemo =
    new BoundedMemo[(SparkSession, String), DataFrame](MemoCapacity,
      isDead = kv => kv._1.sparkContext.isStopped)
  private[queries] def clustersFor(spark: SparkSession, dir: String): DataFrame =
    clusterMemo.getOrElseUpdate((spark, dir), clusters(spark, dir))

  private def clusters(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ConnectedComponents
      .connectedComponents(pairsFor(spark, dir).select("d1", "d2"))

  /** The d9 transitive-closure chain as a reusable CTE block ending in
    * `clusters(doc_id, cluster_id)` — shared verbatim by the d9 oracle and
    * t24's leakage-safe split so the two cannot drift. Callers prepend
    * `WITH RECURSIVE `.
    */
  lazy val dupClustersSqlCte: String =
    s"""$simhashSigsSql,
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |sym AS (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION ALL SELECT d2, d1 FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
       |clusters AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src)""".stripMargin

  lazy val dupClustersSql: String =
    s"""WITH RECURSIVE $dupClustersSqlCte
       |SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin

  /** Eval-set docs for decontamination: doc_id ≡ 0 (mod EvalMod) stands in
    * for "the held-out benchmark corpus" (in production: a separate table).
    */
  val EvalMod = 97L

  /** Word-gram width for decontamination. 4 keeps the flagged set selective
    * but non-empty on the synthetic fixture's small vocabulary; production
    * decontamination uses 8–13-gram windows — the mechanism is identical,
    * only this constant changes.
    */
  val DecontamN = 4

  /** Distinct (doc_id, gram-hash) pairs over the corpus — the shared front
    * half of d8 and d10. Grams hash to longs INSIDE the per-row transform,
    * so the explode emits scalars and every downstream shuffle carries
    * (doc_id, long) — text never moves past the scan.
    *
    * The per-doc dedup happens IN-ROW (`array_distinct` on the gram-hash
    * array before the explode), not as a corpus-wide `.distinct()`: the
    * distinct key is (doc_id, h) and doc_id is constant within a row, so
    * deduping the ~50-element array per document yields the identical row
    * set WITHOUT a full-corpus shuffle — at 100 TB that elides the single
    * largest exchange this pipeline had (every (doc_id, gram) pair), and
    * at fixture scale it drops a whole stage of task-launch floor.
    *
    * HASH CHOICE: unlike the simhash family (whose oracle twin must
    * reproduce identical signature BITS), d8/d10 never surface hash values
    * in their output — only distinct-set CARDINALITIES. So the two engines
    * may hash differently as long as neither collides: Spark uses built-in
    * `xxhash64` fed the token window as SEPARATE arguments (codegen'd,
    * zero-allocation — no per-gram string concat, no MessageDigest; each
    * argument is absorbed as a chained seed, so word-boundary shifts
    * cannot alias), while the DuckDB twin keeps its md5-prefix hash over
    * the concatenated gram. Profiled at ScaleStress x100: the concat+md5
    * formulation spent 29 s of the 51 s cold query inside the explode;
    * xxhash64 removes that hot spot. Collision risk at the sf0.01 gate is
    * ~25k distinct grams over a 64-bit space (p ≈ 2e-11).
    *
    * DELIBERATELY NOT MEMOIZED/CACHED (a sigsFor-style memo was built and
    * measured first): caching this frame materializes the full corpus gram
    * set into the block store, and at ScaleStress x100 that encode stage
    * cost ~3x the xxhash64 explode it would save on a re-derive — the memo
    * made the cold query SLOWER, and the consumers below are each
    * single-pass over it anyway (d10 aggregates it once; d8's eval branch
    * prunes to the 1-in-97 eval docs AT THE SCAN via the pushed doc_id
    * filter, so its "second derivation" reads ~1% of the corpus).
    */
  private[queries] def docGramHashes(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(
      Tables(spark, dir).documents.select("doc_id", "text"))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= DecontamN)
    val window = (0 until DecontamN)
      .map(k => s"try_element_at(t, i + $k)").mkString(", ")
    val gramHashes =
      s"array_distinct(transform(sequence(1, size(t) - ${DecontamN - 1}), " +
        s"i -> xxhash64($window)))"
    toks.select(col("doc_id"), explode(expr(gramHashes)).as("h"))
  }

  /** The SQL twin of [[docGramHashes]], shared by both oracles. */
  private val gramsCteSql: String =
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id, ${hash60Sql("g")} AS h FROM (
       |    SELECT doc_id, unnest(${TextHash.wordNgramsSql("t", DecontamN)}) AS g
       |    FROM toks WHERE len(t) >= $DecontamN))""".stripMargin

  /** d13 FUZZY decontamination — the near-dup extension of [[decontaminate
    * d8]]: exact 13-gram-style overlap (d8/d10) misses paraphrased or
    * lightly-edited benchmark leakage, so production decontamination pairs
    * the exact pass with a fuzzy pass (GPT-3's contamination methodology,
    * Brown et al. 2020 arXiv:2005.14165 Appendix C, uses n-gram overlap;
    * the fuzzy refinement is the standard MinHash recipe, same as d2's).
    * For each training doc, the eval docs it near-duplicates at ≥
    * [[FuzzyThreshold]] exact Jaccard, candidates from minhash band
    * collisions — `graft.operators.TextDedup.crossCorpusPairs` bound to a
    * train/eval split of the documents table.
    *
    * The eval slice is `doc_id % FuzzyEvalMod == 0` with mod 10 (not d8's
    * 97): the correctness gate runs at sf0.01, whose 25 near-dup pairs
    * straddle a 1-in-10 boundary but not a 1-in-97 one — mod 10 keeps the
    * gate exercising the non-empty path at every fixture scale.
    */
  private[graft] val FuzzyEvalMod = 10
  private val FuzzyThreshold = 0.8

  def fuzzyDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    graft.operators.TextDedup.crossCorpusPairs(
      docs.filter(col("doc_id") % FuzzyEvalMod =!= 0),
      docs.filter(col("doc_id") % FuzzyEvalMod === 0),
      FuzzyThreshold)
      .orderBy("train_doc_id", "eval_doc_id")
  }

  val fuzzyDecontaminateSql: String =
    s"""WITH $minhashBandsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
       |  WHERE a.doc_id % $FuzzyEvalMod != 0 AND b.doc_id % $FuzzyEvalMod = 0),
       |x AS (
       |  SELECT c.d1, c.d2,
       |    len(list_intersect(s1.gs, s2.gs)) AS inter,
       |    len(s1.gs) AS n1, len(s2.gs) AS n2
       |  FROM cand c
       |    JOIN sets s1 ON s1.doc_id = c.d1
       |    JOIN sets s2 ON s2.doc_id = c.d2)
       |SELECT d1 AS train_doc_id, d2 AS eval_doc_id,
       |  round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 4) AS jaccard
       |FROM x
       |WHERE round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 4) >= $FuzzyThreshold
       |ORDER BY train_doc_id, eval_doc_id""".stripMargin

  /** Test-set DECONTAMINATION: flag training documents sharing any
    * contiguous [[DecontamN]]-token gram with the eval set, with the count
    * of distinct shared grams — the standard pre-training hygiene pass
    * (an eval question leaking into training data inflates benchmarks).
    *
    * Scale design: grams are hashed to 60-bit longs INSIDE the per-row
    * transform, so the explode emits scalars and the dedup shuffle carries
    * (doc_id, long) — text never moves. The eval gram set is small by
    * definition (benchmarks are thousands of docs, not billions) and
    * broadcasts; the training corpus is never self-joined, so cost is one
    * scan + one shuffle on the gram hash, linear in corpus size. Both
    * sides of the oracle count distinct HASHES, so parity cannot be broken
    * by a collision.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val grams = docGramHashes(spark, dir)
    val evalGrams = grams.filter(col("doc_id") % EvalMod === 0)
      .select("h").distinct()
    grams.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(evalGrams), "h")
      .groupBy("doc_id") // (doc_id, h) already distinct: count(*) = distinct
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String =
    s"""WITH $gramsCteSql,
       |ev AS (SELECT DISTINCT h FROM grams WHERE doc_id % $EvalMod = 0)
       |SELECT g.doc_id, count(*) AS n_shared
       |FROM grams g JOIN ev USING (h)
       |WHERE g.doc_id % $EvalMod != 0
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** d15: BLOOM-PRUNED decontamination — d8's semantics for the regime
    * where the eval gram set is too big to broadcast as an exact hash set
    * (decontaminating against MANY benchmark suites at once: tens of
    * millions of grams = gigabytes as a hash-join table, ~10 bits/key as
    * a bloom sketch). The corpus scan is prefiltered by a broadcast bloom
    * of the eval hashes (built distributed via `stat.bloomFilter` — the
    * same sketch Spark's own InjectRuntimeFilter pushes into shuffle
    * joins), then the few survivors meet the eval set in an EXACT join
    * that removes the false positives. Blooms have no false negatives, so
    * the result is bit-identical to d8 — the oracle IS d8's SQL, which
    * makes the gate prove the sketch path exact, not approximately right.
    *
    * Scale shape: the full training corpus pays one in-scan bloom probe
    * per gram (no shuffle, sketch broadcast once); only the contaminated
    * fraction + fpp·(clean fraction) of grams reach the verify join — at
    * a mostly-clean 100 TB corpus that join's input is eval-sized, not
    * corpus-sized, whichever join strategy the verify then picks. The
    * verify join is deliberately NOT broadcast-hinted: in the target
    * regime the eval set exceeds the broadcast threshold and the
    * surviving-gram shuffle is the plan; at fixture scale AQE may
    * broadcast it anyway — both are correct.
    */
  def bloomDecontaminate(spark: SparkSession, dir: String,
      fpp: Double = 0.03): DataFrame = {
    val grams = docGramHashes(spark, dir)
    val evalGrams = grams.filter(col("doc_id") % EvalMod === 0)
      .select("h").distinct()
    // expectedNumItems is metadata a pipeline knows (benchmark sizes are
    // fixed); here it costs one count over the eval slice. An EMPTY eval
    // slice (no doc cleared the gram threshold yet) must return zero
    // contamination rows like its d8 twin — stat.bloomFilter over zero
    // rows NPEs inside Spark's sketch merge, so short-circuit before it
    val nEval = evalGrams.count()
    if (nEval == 0)
      return grams.sparkSession.createDataFrame(
        grams.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_shared",
            org.apache.spark.sql.types.LongType))))
    val bf = evalGrams.stat.bloomFilter("h", nEval, fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((h: Long) => bfB.value.mightContainLong(h))
    grams.filter(col("doc_id") % EvalMod =!= 0)
      .filter(mightContain(col("h")))
      .join(evalGrams, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** CONTAMINATION RATE — the audit twin of [[decontaminate d8]]: instead
    * of flagging training docs, report PER EVAL DOC how much of it leaked
    * into the training corpus (distinct-gram fraction) — the number an
    * evaluation writeup actually cites ("x% of benchmark B appears in the
    * training set").
    *
    * Scale design: ONE corpus shuffle total. A single groupBy on the gram
    * hash simultaneously (a) dedups the training side (distinct grams =
    * distinct groups), (b) "joins" eval and train occurrences of the same
    * gram (they land in the same group), and (c) reduces the training side
    * to one boolean per gram — where the earlier shape needed a distinct
    * exchange PLUS a join, this needs neither. Per-gram state is bounded:
    * the collected eval-doc list is benchmark-sized by definition (the
    * eval corpus is thousands of docs, not billions — the same bound that
    * justified d8's broadcast), and the training side folds to a flag via
    * max(), never a list. The exploded eval pairs after the filter are
    * eval-corpus-sized, so the final per-doc aggregate is tiny. The corpus
    * is never self-joined. (Two earlier shapes were measured and replaced:
    * separate n_grams/n_leaked aggregates stitched by a join — two extra
    * exchanges — and a distinct-then-left-join form whose train-side
    * distinct was a second full-corpus exchange.)
    */
  def contaminationRate(spark: SparkSession, dir: String): DataFrame = {
    val grams = docGramHashes(spark, dir)
    val isEval = col("doc_id") % EvalMod === 0
    grams
      .groupBy("h")
      .agg(
        collect_list(when(isEval, col("doc_id"))).as("eval_docs"),
        max(when(!isEval, 1).otherwise(0)).as("in_train"))
      .filter(size(col("eval_docs")) > 0)
      .select(explode(col("eval_docs")).as("doc_id"), col("in_train"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("in_train")).cast("long").as("n_leaked"),
        round(sum(col("in_train")) / count(lit(1)), 4).as("rate"))
      .orderBy("doc_id")
  }

  val contaminationRateSql: String =
    s"""WITH $gramsCteSql,
       |ev AS (SELECT doc_id, h FROM grams WHERE doc_id % $EvalMod = 0),
       |tr AS (SELECT DISTINCT h FROM grams WHERE doc_id % $EvalMod != 0),
       |leaked AS (
       |  SELECT ev.doc_id, count(*) AS n_leaked
       |  FROM ev JOIN tr USING (h) GROUP BY 1)
       |SELECT e.doc_id, count(*) AS n_grams,
       |  coalesce(any_value(l.n_leaked), 0) AS n_leaked,
       |  round(CAST(coalesce(any_value(l.n_leaked), 0) AS DOUBLE) / count(*), 4)
       |    AS rate
       |FROM ev e LEFT JOIN leaked l ON e.doc_id = l.doc_id
       |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d10_contamination_rate" -> (contaminationRate _),
    "d9_dup_clusters" -> (dupClusters _),
    "d8_decontaminate" -> (decontaminate _),
    "d7_substring_dups" -> (substringDups _),
    "d1_exact_dedup" -> (exactDedup _),
    "d2_minhash_lsh" -> (minhashLsh _),
    "d3_simhash" -> (simhash _),
    "d4_simhash_pairs" -> (simhashPairs _),
    "d5_ngram_jaccard" -> (ngramJaccard _),
    "d6_embedding_near_dup" -> ((s: SparkSession, d: String) => embeddingNearDup(s, d)),
    "d11_semantic_dedup" -> ((s: SparkSession, d: String) => semanticDedup(s, d)),
    "d12_dedup_verdicts" -> (nearDupVerdicts _),
    "d13_fuzzy_decontaminate" -> (fuzzyDecontaminate _),
    "d14_incremental_verdicts" -> (incrementalVerdictsQuery _),
    "d15_bloom_decontaminate" -> ((s: SparkSession, d: String) => bloomDecontaminate(s, d)))

  val oracles: Map[String, String] = Map(
    "d10_contamination_rate" -> contaminationRateSql,
    "d9_dup_clusters" -> dupClustersSql,
    "d8_decontaminate" -> decontaminateSql,
    "d7_substring_dups" -> substringDupsSql,
    "d1_exact_dedup" -> exactDedupSql,
    "d2_minhash_lsh" -> minhashLshSql,
    "d3_simhash" -> simhashSql,
    "d4_simhash_pairs" -> simhashPairsSql,
    "d5_ngram_jaccard" -> ngramJaccardSql,
    "d6_embedding_near_dup" -> embeddingNearDupSql,
    "d11_semantic_dedup" -> semanticDedupSql,
    "d12_dedup_verdicts" -> nearDupVerdictsSql,
    "d13_fuzzy_decontaminate" -> fuzzyDecontaminateSql,
    "d14_incremental_verdicts" -> nearDupVerdictsSql,
    "d15_bloom_decontaminate" -> decontaminateSql)
}
