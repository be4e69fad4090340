package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Tables, WorkDirs}
import graft.functions.TextHash.{hash60, hash60Sql}

/** Corpus sampling and sharding — the two selection operators every
  * large-scale training-data pipeline runs between "cleaned" and "trained"
  * (extension tier alongside dedup/similarity/text-analysis).
  *
  * Both are deterministic by construction: re-running over the same corpus
  * (or any superset restricted to the same docs) reproduces the exact same
  * sample/shards — the property that makes experiments comparable, which
  * `rand()`-based sampling cannot give across retries or cluster sizes.
  */
object Sampling {

  // ------------------------------------------------------------------ t7

  /** Deterministic hash sample: keep a doc iff a salted 60-bit content-key
    * hash lands in the bucket. A pure per-row filter — no shuffle, pushes
    * nothing to the driver, identical result at any parallelism. Changing
    * the salt draws an independent sample; the same predicate inside any
    * groupBy gives a stratified variant for free.
    */
  def hashSample(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).documents
      .filter(
        hash60(concat(lit("graft-sample|"), col("doc_id").cast("string"))) % 20 === 0)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  val hashSampleSql: String = {
    val h = hash60Sql("'graft-sample|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE $h % 20 = 0
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------ t8

  /** Token-budget sharding: assign docs (in doc_id order) to consecutive
    * shards of ~`Budget` whitespace tokens — the greedy packing step that
    * turns a corpus into bounded training shards.
    *
    * A global running sum is inherently sequential, so it is computed as a
    * two-level prefix sum instead of one giant single-partition window:
    * per-BLOCK token totals (a small aggregate) get a running offset, and
    * each doc adds its within-block prefix (windows partitioned by block).
    * Only the block-level window is unpartitioned, over corpus/BLOCK rows —
    * 256× reduction per level; at extreme scale the same construction
    * recurses. The per-doc window shuffles once on the block id.
    *
    * `DIV` truncates toward zero, which equals floor division only on a
    * non-negative domain — `doc_id >= 0` and token counts `>= 0` are
    * preconditions here (they hold for any corpus keyed by unsigned ids).
    */
  /** (doc_id, n_tokens, cum_before): each doc's whitespace-token count and
    * the total tokens of all SMALLER-id docs — the two-level prefix sum
    * shared by t8 (shard assignment) and t20 (sequence packing).
    */
  private def withGlobalOffset(docs: DataFrame): DataFrame = {
    val Block = 256L
    val t = docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr(s"doc_id DIV $Block").as("blk"))
    val blkOff = t.groupBy("blk").agg(sum("n_tokens").as("blk_tokens"))
      .withColumn("off", coalesce(
        sum("blk_tokens").over(
          Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("blk", "off")
    val within = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(blkOff, "blk")
      .withColumn("cum_before",
        col("off") + coalesce(sum("n_tokens").over(within), lit(0L)))
      .select("doc_id", "n_tokens", "cum_before")
  }

  def tokenShards(spark: SparkSession, dir: String): DataFrame = {
    val Budget = 5000L
    withGlobalOffset(Tables(spark, dir).documents)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"cum_before DIV $Budget").as("shard_id"))
      .orderBy("doc_id")
  }

  /** The oracle states the SAME result as one flat running sum — proving the
    * two-level decomposition exact, not approximate.
    */
  val tokenShardsSql: String =
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM t)
      |SELECT doc_id, n_tokens, CAST(cum_before // 5000 AS BIGINT) AS shard_id
      |FROM c ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- t20

  /** Training-sequence width in whitespace tokens. */
  val SeqTokens = 128L

  /** SEQUENCE PACKING: concatenate the corpus's token stream in doc_id
    * order and cut it into training sequences of exactly [[SeqTokens]]
    * tokens (the standard pretraining batch layout — documents packed
    * back-to-back, a sequence may span documents and a document may span
    * sequences; the final sequence may be short). Output is the per-
    * sequence composition: how many docs it draws from, its first/last
    * doc, and its token count — the manifest a loader needs to build
    * attention masks at the doc boundaries.
    *
    * Shape: each doc's global token offset comes from the shared two-level
    * prefix sum ([[withGlobalOffset]], t8's machinery); a doc then
    * fans out one row per sequence it overlaps — `n_tokens/SeqTokens + 2`
    * rows, so total fan-out is `corpus_tokens/SeqTokens`, linear — and one
    * hash aggregate on seq_id folds the composition. Per-sequence token
    * counts are summed from per-doc overlaps, so no global token total
    * (and no second pass) is ever needed.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val S = SeqTokens
    withGlobalOffset(Tables(spark, dir).documents)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        explode(expr(
          s"sequence(cum_before DIV $S, (cum_before + n_tokens - 1) DIV $S)"))
          .as("seq_id"))
      .groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"),
        sum(
          least(col("cum_before") + col("n_tokens"), (col("seq_id") + 1) * S) -
            greatest(col("cum_before"), col("seq_id") * S)).as("n_tok"))
      .orderBy("seq_id")
  }

  /** The oracle re-derives the packing from a FLAT running sum (as
    * [[tokenShardsSql]] does for t8), proving the two-level decomposition
    * and the per-doc overlap arithmetic against an independent statement.
    */
  val packSequencesSql: String = {
    val S = SeqTokens
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM t),
       |s AS (
       |  SELECT doc_id, n_tokens, cum_before,
       |    unnest(generate_series(cum_before // $S,
       |      (cum_before + n_tokens - 1) // $S)) AS seq_id
       |  FROM c)
       |SELECT CAST(seq_id AS BIGINT) AS seq_id, count(*) AS n_docs,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |  CAST(sum(least(cum_before + n_tokens, (seq_id + 1) * $S)
       |    - greatest(cum_before, seq_id * $S)) AS BIGINT) AS n_tok
       |FROM s GROUP BY seq_id ORDER BY seq_id""".stripMargin
  }

  // ----------------------------------------------------------------- t10

  /** Per-stratum rates in permille: downsample the dominant language, keep
    * the rest at a higher rate — the corpus-rebalancing step before
    * training. Unlisted strata fall back to the default rate.
    */
  private val StratumPermille: Seq[(String, Int)] =
    Seq("en" -> 50, "fr" -> 200, "es" -> 200)
  private val DefaultPermille = 500

  /** Stratified deterministic sample: same salted-hash mechanism as [[t7
    * hashSample]], but the keep-threshold comes from a per-stratum rate map
    * (a broadcast-free map literal — Catalyst folds the lookup into the
    * row predicate). Still a pure filter: no shuffle, reproducible at any
    * parallelism, and the same doc keeps/drops consistently as rates for
    * OTHER strata change.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = StratumPermille.foldLeft(lit(DefaultPermille)) {
      case (acc, (lang, pm)) => when(col("lang") === lang, lit(pm)).otherwise(acc)
    }
    Tables(spark, dir).documents
      .filter(
        hash60(concat(lit("graft-strat|"), col("doc_id").cast("string"))) % 1000 < rate)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  val stratifiedSampleSql: String = {
    val h = hash60Sql("'graft-strat|' || CAST(doc_id AS VARCHAR)")
    // same foldLeft shape as the Spark twin above — identical CASE nesting
    val rate = StratumPermille.foldLeft(s"$DefaultPermille") {
      case (acc, (lang, pm)) => s"CASE WHEN lang = '$lang' THEN $pm ELSE $acc END"
    }
    s"""SELECT doc_id, lang FROM documents
       |WHERE $h % 1000 < $rate
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------------- t12

  /** Per-source token budget for the training-mix selection. ~half of each
    * source's fixture tokens, so the cut falls mid-source everywhere.
    */
  val MixBudget = 600L

  /** TRAINING-MIX selection: from each source, take documents in a
    * deterministic pseudo-random order until that source's token budget is
    * spent — the "mix corpora to target proportions" step of a pre-training
    * pipeline (equal budgets here; a per-source budget map composes exactly
    * like [[stratifiedSample]]'s rate map). A doc is kept iff the tokens
    * consumed before it are under budget, so each source overshoots by at
    * most one document and selection is order-stable: a doc's keep/drop
    * never depends on docs hashed after it.
    *
    * Scale: the running sum partitions by SOURCE — every source's window
    * is an independent parallel task (contrast t8's global shard sum,
    * which needs the two-level block decomposition). A single pathological
    * source that dwarfs the others recurses into exactly t8's block
    * construction, partitioned by (source, block).
    */
  def tokenMix(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        hash60(concat(lit("graft-mix|"), col("doc_id").cast("string"))).as("h"))
    val w = Window.partitionBy("source").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("cum_before", coalesce(sum("n_tok").over(w), lit(0L)))
      .filter(col("cum_before") < MixBudget)
      .select("doc_id", "source", "n_tok")
      .orderBy("doc_id")
  }

  val tokenMixSql: String = {
    val h = hash60Sql("'graft-mix|' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, $h AS h
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tok,
       |    coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t)
       |SELECT doc_id, source, n_tok FROM c
       |WHERE cum_before < $MixBudget
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------------- t15

  /** Chunk width / stride in whitespace tokens. Stride < width gives the
    * standard sliding-window overlap (here 16 tokens) so no token span falls
    * on a hard boundary in every chunk that sees it.
    */
  val ChunkTokens = 64L
  val ChunkStride = 48L

  /** Intra-document CHUNKING: cut each document into fixed-width token
    * windows at a fixed stride — the step that turns variable-length
    * documents into bounded training units (t8/t12 select and shard whole
    * docs; this is the within-doc counterpart).
    *
    * Chunk count is `(max(n-C,0) + S-1) DIV S + 1`: windows start at
    * 0,S,2S,… until the doc is covered, the last window may be short, and
    * no window starts inside the previous one's tail (a start beyond
    * `n-C` would emit a suffix fully contained in its predecessor). All
    * operands are non-negative, so truncating DIV == floor.
    *
    * Scale: a pure per-row fan-out — NO shuffle anywhere (the final sort
    * is oracle-parity only); output rows ≈ n/S per doc, each carrying one
    * chunk. The chunk text is built INSIDE `transform` so the generator
    * emits scalar structs — exploding positions and slicing the token
    * array per output row afterwards would carry the full array through
    * the Generate (measured 8× slower on the gram pipeline).
    *
    * Operates on any (doc_id, text) frame — [[docChunks]] binds it to the
    * documents table; the property spec drives it over synthetic
    * edge-length docs.
    */
  def chunkTokens(docs: DataFrame): DataFrame = {
    val (c, s) = (ChunkTokens, ChunkStride)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("n"),
        explode(expr(
          s"""transform(sequence(0L, (greatest(n - $c, 0L) + ${s - 1}) DIV $s),
             |  i -> struct(i AS chunk_id,
             |    concat_ws(' ', slice(toks, CAST(i * $s + 1 AS INT), $c)) AS chunk_text))"""
            .stripMargin)).as("ch"))
      .select(col("doc_id"), col("ch.chunk_id").as("chunk_id"),
        (col("ch.chunk_id") * s).as("start_tok"),
        least(lit(c), col("n") - col("ch.chunk_id") * s).as("n_tok"),
        col("ch.chunk_text").as("chunk_text"))
  }

  def docChunks(spark: SparkSession, dir: String): DataFrame =
    chunkTokens(Tables(spark, dir).documents)
      .orderBy("doc_id", "chunk_id")

  /** DuckDB twin: 1-based inclusive list slice `toks[a:b]` clamps at the
    * list end exactly like Spark's `slice(toks, a, len)`.
    */
  val docChunksSql: String = {
    val (c, s) = (ChunkTokens, ChunkStride)
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, n, toks,
       |    unnest(generate_series(0, (greatest(n - $c, 0) + ${s - 1}) // $s)) AS chunk_id
       |  FROM t)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(chunk_id * $s AS BIGINT) AS start_tok,
       |  CAST(least($c, n - chunk_id * $s) AS BIGINT) AS n_tok,
       |  array_to_string(toks[chunk_id * $s + 1 : chunk_id * $s + $c], ' ') AS chunk_text
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ----------------------------------------------------------------- t18

  /** Weighted sample size. */
  val WSampleK = 100

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis A-ES,
    * IPL 2006): each doc draws a deterministic uniform u ∈ (0,1) from its
    * salted content hash and scores key = ln(u)/w; the k largest keys ARE
    * a weighted sample without replacement — quality-weighted corpus
    * selection ("sample 100 docs, longer docs proportionally more often")
    * in one expression, no rejection loop. Any positive weight column
    * composes (a t2-style quality score is the production choice); the
    * registered entry weights by n_chars.
    *
    * Deterministic at any parallelism (u is content-hashed, not rand()),
    * so the same corpus always draws the same sample — and the top-k
    * executes as TakeOrderedAndProject: per-partition heaps, k rows to
    * the driver, NO global sort shuffle. At 100 TB the cost is one scan.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).documents
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        ((hash60(concat(lit("graft-wsample|"), col("doc_id").cast("string")))
          .cast("double") + 0.5) / lit(1.152921504606846976e18)).as("u"))
      .withColumn("key", log(col("u")) / col("n_chars"))
      .orderBy(desc("key"), asc("doc_id"))
      .limit(WSampleK)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  val weightedSampleSql: String = {
    val h = hash60Sql("'graft-wsample|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, source, n_chars FROM (
       |  SELECT doc_id, source, n_chars,
       |    ln((CAST($h AS DOUBLE) + 0.5) / 1152921504606846976.0) / n_chars
       |      AS key
       |  FROM documents WHERE n_chars > 0
       |  ORDER BY key DESC, doc_id LIMIT $WSampleK)
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------------- t21

  /** Per-source document cap. */
  val CapPerSource = 15

  /** SOURCE-FREQUENCY CAPPING: keep at most [[CapPerSource]] docs per
    * source — the per-domain cap every web-corpus curation pipeline applies
    * so no single site dominates the training mix (the cap-count
    * counterpart of [[tokenMix]]'s per-source token budget). Which docs
    * survive is a deterministic pseudo-random draw: rank by the same
    * salted content hash as t7/t10/t12, so the selection is reproducible
    * at any parallelism and stable as OTHER sources grow.
    *
    * Scale: the rank window shuffles only (doc_id, source, hash) — text
    * never moves — and partitions by source, so parallelism is source
    * cardinality (web-scale: millions of domains). A pathologically hot
    * source sorts only its own narrow rows; if even that is too wide, the
    * per-source rank recurses into t8's block construction exactly like
    * [[tokenMix]]'s note.
    */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("h", "doc_id")
    Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        hash60(concat(lit("graft-cap|"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CapPerSource)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  val sourceCapSql: String = {
    val h = hash60Sql("'graft-cap|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $CapPerSource
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------------- t22

  /** Per-cell vector cap. 500 fixture vectors over 8 cells average ~62, so
    * 40 both keeps and drops within most cells — the gate exercises both
    * branches.
    */
  val CapPerCell = 40

  /** CLUSTER-BALANCED CAPPING: keep at most [[CapPerCell]] vectors per
    * coarse-quantizer cell — [[sourceCap t21]]'s per-domain cap transported
    * into embedding space, where the "domain" is a semantic cluster rather
    * than a URL host. Capping per k-means cell is how embedding-aware
    * curation bounds over-represented semantic regions (the clustering-
    * based pruning family: MiniPile, Kaddour 2023, arXiv:2304.08442,
    * curates by k-means cluster; SemDeDup prunes within the same cells
    * d11 uses). The cells are n4/d11's SHARED Lloyd-refined quantizer —
    * one clustering, three consumers, identical partition of the corpus —
    * and survivors are the same deterministic salted-hash draw as
    * t7/t10/t12/t21, reproducible at any parallelism.
    *
    * Scale: assignment is the shared quantizer (inline projection against
    * broadcast centroid literals; √n cell schedule at scale, see
    * SCALING.md), and the rank window shuffles only (vec_id, cell, hash) —
    * vectors never move. Under the √n schedule mean cell occupancy is
    * Θ(√n), so per-cell window sorts stay narrow as the corpus grows.
    */
  def clusterCap(spark: SparkSession, dir: String): DataFrame =
    clusterCap(spark, dir, numCells = Similarity.NumCells)

  /** The K-parameterized form the scale study runs under the shared √n
    * cell schedule (ScaleStress.d11Cells) — survivors then grow as
    * √n·[[CapPerCell]] while per-cell window width stays Θ(√n).
    */
  def clusterCap(spark: SparkSession, dir: String, numCells: Int): DataFrame = {
    val w = Window.partitionBy("cell").orderBy("h", "vec_id")
    Similarity.semanticCells(spark, dir, numCells = numCells)
      .withColumn("h",
        hash60(concat(lit("graft-ccap|"), col("vec_id").cast("string"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CapPerCell)
      .select("vec_id", "cell")
      .orderBy("vec_id")
  }

  def clusterCapSqlFor(numCells: Int): String = {
    val h = hash60Sql("'graft-ccap|' || CAST(vec_id AS VARCHAR)")
    s"""${Similarity.cellsCteSqlFor(numCells)}
       |SELECT vec_id, cell FROM (
       |  SELECT a.vec_id, a.cell,
       |    row_number() OVER (PARTITION BY a.cell ORDER BY $h, a.vec_id) AS rk
       |  FROM assign a)
       |WHERE rk <= $CapPerCell
       |ORDER BY vec_id""".stripMargin
  }

  lazy val clusterCapSql: String = clusterCapSqlFor(Similarity.NumCells)

  // ------------------------------------------------------------------ x3

  /** Parent of the x3/x4/x6 export zones (Bench drops it per pass). */
  val ExportZonesRoot: String = WorkDirs.target("fixtures-export")
  val ExportRoot = s"$ExportZonesRoot/shards"

  /** K7 ROUND-TRIP: run the training-shard export sink, read the
    * JSONL-gz layout back off disk, and re-derive (doc_id, n_tokens,
    * shard_id) from the files alone. The oracle is [[tokenShardsSql]] —
    * t8's assignment recomputed from the source table — so the sink's
    * on-disk contract (partition directories, JSON payload fidelity,
    * token-count reproducibility from the exported text) is
    * oracle-checked end-to-end, not just spec-checked.
    *
    * `shard_id` comes back as a partition-directory column (inferred
    * INT — cast to long); `doc_id`/`text` come from the JSON bodies.
    */
  def exportRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    graft.core.FsUtil.deleteRecursively(ExportRoot)
    graft.pipeline.ExportJob.writeTrainingShards(spark, dir, ExportRoot)
    // read back with the writer's own schema: schema-less json() pays a
    // full extra decompress+parse inference pass over the zone (guide §6);
    // types are exactly what inference produced on this self-written zone,
    // and the select's casts pin the output shape either way
    spark.read.schema(graft.pipeline.ExportJob.ZoneSchema).json(ExportRoot)
      .select(col("doc_id").cast("long").as("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("shard_id").cast("long").as("shard_id"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------------- t24

  /** Train fraction (in tenths) for the leakage-safe split. */
  val SplitSalt = "graft-split|"
  val SplitTrainTenths = 8

  /** t24: LEAKAGE-SAFE train/eval split — the split decision is made per
    * NEAR-DUP CLUSTER (d9's connected components), not per document, so
    * two near-duplicate documents can never straddle the boundary. A
    * per-doc random split leaks: a train doc's near-copy in eval inflates
    * benchmarks exactly like d8/d10-style contamination, but no gram
    * overlap check can catch it after the fact — the split itself has to
    * be group-atomic. group_id = the doc's cluster representative (its own
    * id when unpaired); split = salted hash of group_id mod 10, 8 tenths
    * to train — every member hashes the same value by construction.
    *
    * Scale shape: the expensive part (pair generation + components) is
    * d9's already-measured shape, shared via the session memo when a prior
    * query in the session computed it; the split itself is one join of the
    * corpus against the cluster frame (only docs that ARE in clusters —
    * small; broadcast at scale) plus a per-row hash. Deterministic at any
    * parallelism: same corpus, same split, on every rerun and cluster size
    * — the property that makes the eval comparable across experiments.
    */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select("doc_id")
    docs.join(Dedup.clustersFor(spark, dir), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(pmod(hash60(concat(lit(SplitSalt), col("group_id").cast("string"))),
          lit(10L)) < SplitTrainTenths, "train").otherwise("eval"))
      .select("doc_id", "group_id", "split")
      .orderBy("doc_id")
  }

  lazy val leakageSplitSql: String =
    s"""WITH RECURSIVE ${Dedup.dupClustersSqlCte},
       |grp AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
       |SELECT doc_id, group_id,
       |  CASE WHEN ${hash60Sql(s"'$SplitSalt' || CAST(group_id AS VARCHAR)")}
       |    % 10 < $SplitTrainTenths THEN 'train' ELSE 'eval' END AS split
       |FROM grp ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- x4

  val DeleteRoot = s"$ExportZonesRoot/delete-shards"

  /** Victim selector for the x4 fixture: every doc_id ≡ 0 (mod 83) — a
    * deterministic stand-in for "the ids in today's deletion requests".
    */
  val DeleteMod = 83L

  /** x4: TARGETED DELETE roundtrip — build an incremental export zone,
    * delete the victim ids through `ExportJob.deleteFromShards` (which
    * rewrites ONLY the shards the stable hash maps the victims to), and
    * read the zone back. The oracle is simply the source corpus minus the
    * victims: the zone after a targeted delete must be indistinguishable
    * from an export that never contained them. The driver-side victim
    * list is the GDPR-request shape — ids, not data (see the operator's
    * scaladoc for the scale contract).
    */
  def deleteRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    graft.core.FsUtil.deleteRecursively(DeleteRoot)
    graft.pipeline.ExportJob.writeTrainingShardsIncremental(spark, dir, DeleteRoot)
    val victims = Tables(spark, dir).documents
      .filter(pmod(col("doc_id"), lit(DeleteMod)) === 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    graft.pipeline.ExportJob.deleteFromShards(spark, DeleteRoot, victims)
    // explicit schema: see exportRoundtrip
    spark.read.schema(graft.pipeline.ExportJob.ZoneSchema).json(DeleteRoot)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("source"), col("shard_id").cast("long").as("shard_id"))
      .orderBy("doc_id")
  }

  val deleteRoundtripSql: String =
    s"""SELECT doc_id, lang, source,
       |  ${hash60Sql(s"'${graft.pipeline.ExportJob.IncrementalSalt}' || CAST(doc_id AS VARCHAR)")}
       |    % ${graft.pipeline.ExportJob.IncrementalShards} AS shard_id
       |FROM documents
       |WHERE doc_id % $DeleteMod <> 0
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- t25

  /** Token budget and salt for the temperature mix. */
  val TempMixBudget = 20000L
  val TempMixSalt = "graft-mix|"

  /** t25: TEMPERATURE-SCALED SOURCE MIXING — the α<1 mixture weighting a
    * multi-source pretraining corpus uses to keep big sources from
    * drowning small ones (GPT-3 / The Pile recipe): source weight ∝
    * tokens^α, here α = 1/2 so every quantity stays INTEGER-EXACT across
    * engines — `floor(sqrt(bigint))` is reproducible because IEEE sqrt is
    * correctly rounded, and everything after it is integer multiply/DIV
    * (the RankFusion fixed-point discipline applied to sampling rates).
    * Per source: rate_permille = min(1000, (1000·B·w_s) DIV (Σw·tok_s))
    * — expected kept tokens ≈ budget·w_s/Σw — then each doc keeps iff its
    * salted hash lands under its source's rate (t7's deterministic
    * mechanism, so the draw is reproducible at any parallelism and on any
    * corpus superset restricted to the same docs).
    *
    * Scale shape: one per-source token aggregate (|sources| rows — tiny),
    * weights broadcast back, then a pure scan filter. The corpus is
    * never shuffled; the only exchange carries |sources| partial sums.
    */
  /** The per-source admission-rate plan (source, rate_permille) — t25's
    * "planning" half, computed from the corpus snapshot: |sources| rows.
    * Exposed separately because the streaming twin (st15) plans rates
    * offline from the snapshot and applies admission per ARRIVING doc.
    */
  def temperatureRates(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val bySource = docs.groupBy("source").agg(sum("n_tok").as("tok_s"))
      .withColumn("w", expr("CAST(floor(sqrt(tok_s)) AS BIGINT)"))
    // sum over an empty corpus is NULL -> getLong would NPE; fail loudly
    val totalRow = bySource.agg(sum("w")).first()
    require(!totalRow.isNullAt(0),
      "temperatureRates over an empty documents corpus")
    val totalW = totalRow.getLong(0)
    // STAGED division — identical result (floor division is associative
    // for positive integers: floor(a/(b·c)) = floor(floor(a/b)/c)) but the
    // denominator product totalW·tok_s is never formed: at the advertised
    // multi-source pretraining scale (~100 sources × 2.5e11 tokens) it
    // exceeds 2^63 and ANSI Spark aborts (non-ANSI wraps negative and
    // silently drops whole sources). Remaining headroom is the NUMERATOR:
    // 1000·B·w stays in-range for budgets to ~10^12 tokens at w ≤ 10^6.
    bySource.withColumn("rate_permille",
      least(lit(1000L),
        expr(s"(1000 * $TempMixBudget * w) DIV $totalW DIV tok_s")))
      .select("source", "rate_permille")
  }

  /** The per-doc admission test: salted hash under the source's rate —
    * t7's deterministic draw, stateless, applied identically by the batch
    * mix (t25) and the stream-ingest mix (st15).
    */
  def admitTempMix(docs: DataFrame, rates: DataFrame): DataFrame =
    docs.join(broadcast(rates), "source")
      .filter(pmod(hash60(concat(lit(TempMixSalt), col("doc_id").cast("string"))),
        lit(1000L)) < col("rate_permille"))
      .select("doc_id", "source", "n_tok", "rate_permille")

  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    admitTempMix(docs, temperatureRates(spark, dir)).orderBy("doc_id")
  }

  val temperatureMixSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |by_source AS (
       |  SELECT source, sum(n_tok) AS tok_s,
       |    CAST(floor(sqrt(sum(n_tok))) AS BIGINT) AS w
       |  FROM docs GROUP BY source),
       |tw AS (SELECT sum(w) AS total_w FROM by_source),
       |rates AS (
       |  SELECT source,
       |    CAST(least(1000, (1000 * $TempMixBudget * w)
       |               // tw.total_w // tok_s) AS BIGINT)
       |      AS rate_permille
       |  FROM by_source, tw)
       |SELECT d.doc_id, d.source, d.n_tok, r.rate_permille
       |FROM docs d JOIN rates r USING (source)
       |WHERE ${hash60Sql(s"'$TempMixSalt' || CAST(doc_id AS VARCHAR)")}
       |  % 1000 < r.rate_permille
       |ORDER BY d.doc_id""".stripMargin

  // ----------------------------------------------------------------- x5

  /** Deterministic "next snapshot" for the x5 fixture: drop ids ≡ 0 mod
    * 97, append a marker to ids ≡ 0 mod 89, re-add ids ≡ 0 mod 101 under a
    * fresh id — removed/modified/added populations that overlap (a
    * removed id may also match the modify rule; removal wins because the
    * row is simply absent from the new side). Added rows take id
    * `-(doc_id + 1)`: real doc_ids are non-negative, so the added
    * namespace is disjoint at EVERY corpus size (a fixed `+shift` offset
    * collides with real ids once max(doc_id) reaches the shift, which the
    * x100 stress corpus does), and the mapping needs no corpus statistic,
    * so it stays legal on a streaming frame (st12 reuses it).
    */
  val DiffRemoveMod = 97L
  val DiffModifyMod = 89L
  val DiffAddMod = 101L

  /** Spark-side fresh-id mapping for added rows; mirror of [[addedIdSql]]. */
  private def addedId(c: org.apache.spark.sql.Column) = -(c + 1L)

  /** DuckDB-side fresh-id mapping for added rows. */
  private val addedIdSql = "-(doc_id + 1)"

  /** x5: CORPUS DIFF between two snapshot versions — which documents were
    * added/removed/modified (graft.operators.CorpusDiff bound to the
    * documents table against a deterministically perturbed "next
    * release"). The operator reduces both sides to (doc_id, digest) in the
    * scan, so the full-outer join moves 16-byte digests, never text, and
    * the output is diff-sized (unchanged rows are filtered inside the
    * operator) — see CorpusDiff's scaladoc for the scale contract.
    */
  /** The deterministic next-snapshot perturbation over any (doc_id, text)
    * frame — batch OR streaming (pure column ops + a self-union, legal on
    * both): the shared fixture of x5 and its streaming twin st12.
    */
  def nextSnapshotOf(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(DiffRemoveMod)) =!= 0L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(DiffModifyMod)) === 0L,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionAll(docs
        .filter(pmod(col("doc_id"), lit(DiffAddMod)) === 0L)
        .select(addedId(col("doc_id")).as("doc_id"), col("text")))

  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select("doc_id", "text")
    graft.operators.CorpusDiff.diff(docs, nextSnapshotOf(docs)).orderBy("doc_id")
  }

  /** The x5 oracle with a caller-chosen extra status predicate — shared
    * with st12, whose arrival-driven CDC sees upserts (added/modified)
    * but, like any log-less CDC, cannot observe an absence.
    */
  // chr(0)-coalesced like CorpusDiff.contentDigest, so a null-text doc
  // digests identically on both engines (bare md5(NULL) is NULL and would
  // misread as 'added' here while Spark reports unchanged)
  private def corpusDiffSqlWhere(extra: String): String =
    s"""WITH o AS (
       |  SELECT doc_id, md5(coalesce(text, chr(0))) AS old_md5
       |  FROM documents),
       |n AS (
       |  SELECT doc_id,
       |    md5(coalesce(CASE WHEN doc_id % $DiffModifyMod = 0
       |                 THEN text || ' v2' ELSE text END, chr(0))) AS new_md5
       |  FROM documents WHERE doc_id % $DiffRemoveMod <> 0
       |  UNION ALL
       |  SELECT $addedIdSql, md5(coalesce(text, chr(0))) FROM documents
       |  WHERE doc_id % $DiffAddMod = 0),
       |j AS (
       |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       |    CASE WHEN o.doc_id IS NULL THEN 'added'
       |         WHEN n.doc_id IS NULL THEN 'removed'
       |         WHEN o.old_md5 <> n.new_md5 THEN 'modified' END AS status
       |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
       |SELECT doc_id, status FROM j WHERE status IS NOT NULL$extra
       |ORDER BY doc_id""".stripMargin

  val corpusDiffSql: String = corpusDiffSqlWhere("")

  /** Upserts-only restatement of the x5 oracle (st12's gate). */
  val corpusDiffUpsertsSql: String =
    corpusDiffSqlWhere(" AND status <> 'removed'")

  // ----------------------------------------------------------------- x6

  val UpsertRoot = s"$ExportZonesRoot/upsert-shards"

  /** x6: row-level UPSERT roundtrip — build an incremental export zone,
    * land the x5 perturbation's UPSERT HALF (the %89 modifications and
    * the %101 shifted additions — the same frame st12's CDC would emit
    * the verdicts for) through `ExportJob.upsertShards`, and read the
    * zone back with content digests exposed, so the gate proves the NEW
    * text landed and everything else stayed byte-stable. Oracle: the
    * corpus with the same modification applied plus the added rows.
    */
  def upsertRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    graft.core.FsUtil.deleteRecursively(UpsertRoot)
    graft.pipeline.ExportJob.writeTrainingShardsIncremental(spark, dir, UpsertRoot)
    val docs = Tables(spark, dir).documents
      .select("doc_id", "text", "lang", "source")
    val upserts = docs
      .filter(pmod(col("doc_id"), lit(DiffModifyMod)) === 0L)
      .withColumn("text", concat(col("text"), lit(" v2")))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(DiffAddMod)) === 0L)
        .withColumn("doc_id", addedId(col("doc_id"))))
    graft.pipeline.ExportJob.upsertShards(spark, UpsertRoot, upserts)
    // explicit schema: see exportRoundtrip
    spark.read.schema(graft.pipeline.ExportJob.ZoneSchema).json(UpsertRoot)
      .select(col("doc_id").cast("long").as("doc_id"),
        md5(col("text")).as("text_md5"), col("source"))
      .orderBy("doc_id")
  }

  val upsertRoundtripSql: String =
    s"""SELECT doc_id,
       |  md5(CASE WHEN doc_id % $DiffModifyMod = 0 THEN text || ' v2'
       |           ELSE text END) AS text_md5, source
       |FROM documents
       |UNION ALL
       |SELECT $addedIdSql, md5(text), source FROM documents
       |WHERE doc_id % $DiffAddMod = 0
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- x7

  /** x7: SNAPSHOT DRIFT REPORT — per-dimension distribution counts of
    * the current corpus vs the same deterministic "next release" the x5
    * diff uses (graft.operators.CorpusDrift bound to the documents
    * table): language mix, source mix, and a 100-char length histogram,
    * old and new side by side with absences as zero. x5 answers WHICH
    * rows changed; x7 answers whether the SHAPE of the corpus moved —
    * the release-gate signal (a source doubling, a language vanishing, a
    * length distribution collapsing). Each side is one scan with the
    * dimensions exploded in-row; the join is dimension-sized.
    */
  /** The x5 perturbation over FULL document rows (text modified,
    * lang/source carried) — shared by x7 and its streaming twin st14;
    * pure column ops + a self-union, legal on batch and streaming frames.
    */
  def nextSnapshotFullOf(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(DiffRemoveMod)) =!= 0L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(DiffModifyMod)) === 0L,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(DiffAddMod)) === 0L)
        .withColumn("doc_id", addedId(col("doc_id"))))

  /** The x7/st14 monitored dimensions. */
  val DriftDims: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "lang" -> col("lang"),
    "source" -> col("source"),
    "len_x100" -> expr("length(text) DIV 100"))

  def driftReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select("doc_id", "text", "lang", "source")
    graft.operators.CorpusDrift.report(docs, nextSnapshotFullOf(docs), DriftDims)
      .orderBy("dim", "value")
  }

  val driftReportSql: String = {
    def dimsOf(src: String) =
      s"""SELECT 'lang' AS dim, lang AS value FROM $src
         |  UNION ALL SELECT 'source', source FROM $src
         |  UNION ALL SELECT 'len_x100', CAST(length(text) // 100 AS VARCHAR)
         |    FROM $src""".stripMargin
    s"""WITH n_src AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $DiffModifyMod = 0 THEN text || ' v2'
       |         ELSE text END AS text, lang, source
       |  FROM documents WHERE doc_id % $DiffRemoveMod <> 0
       |  UNION ALL
       |  SELECT $addedIdSql, text, lang, source FROM documents
       |  WHERE doc_id % $DiffAddMod = 0),
       |o AS (${dimsOf("documents")}),
       |n AS (${dimsOf("n_src")}),
       |oc AS (SELECT dim, value, count(*) AS old_n FROM o GROUP BY dim, value),
       |nc AS (SELECT dim, value, count(*) AS new_n FROM n GROUP BY dim, value)
       |SELECT coalesce(oc.dim, nc.dim) AS dim,
       |  coalesce(oc.value, nc.value) AS value,
       |  coalesce(old_n, 0) AS old_n, coalesce(new_n, 0) AS new_n
       |FROM oc FULL OUTER JOIN nc
       |  ON oc.dim = nc.dim AND oc.value IS NOT DISTINCT FROM nc.value
       |ORDER BY dim, value""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x7_drift_report" -> (driftReport _),
    "x6_upsert_roundtrip" -> (upsertRoundtrip _),
    "t25_temperature_mix" -> (temperatureMix _),
    "x5_corpus_diff" -> (corpusDiff _),
    "x4_delete_roundtrip" -> (deleteRoundtrip _),
    "t24_leakage_split" -> (leakageSplit _),
    "t12_token_mix" -> (tokenMix _),
    "t7_hash_sample" -> (hashSample _),
    "t8_token_shards" -> (tokenShards _),
    "t10_stratified_sample" -> (stratifiedSample _),
    "t15_doc_chunks" -> (docChunks _),
    "t18_weighted_sample" -> (weightedSample _),
    "t20_pack_sequences" -> (packSequences _),
    "t21_source_cap" -> (sourceCap _),
    "t22_cluster_cap" -> (clusterCap _),
    "x3_export_roundtrip" -> (exportRoundtrip _))

  val oracles: Map[String, String] = Map(
    "x7_drift_report" -> driftReportSql,
    "x6_upsert_roundtrip" -> upsertRoundtripSql,
    "t25_temperature_mix" -> temperatureMixSql,
    "x5_corpus_diff" -> corpusDiffSql,
    "x4_delete_roundtrip" -> deleteRoundtripSql,
    "t24_leakage_split" -> leakageSplitSql,
    "t12_token_mix" -> tokenMixSql,
    "t7_hash_sample" -> hashSampleSql,
    "t8_token_shards" -> tokenShardsSql,
    "t10_stratified_sample" -> stratifiedSampleSql,
    "t15_doc_chunks" -> docChunksSql,
    "t18_weighted_sample" -> weightedSampleSql,
    "t20_pack_sequences" -> packSequencesSql,
    "t21_source_cap" -> sourceCapSql,
    "t22_cluster_cap" -> clusterCapSql,
    "x3_export_roundtrip" -> tokenShardsSql)
}
