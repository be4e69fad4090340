package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{BoundedMemo, FsUtil, Tables}
import graft.functions.{PqNearest, TopCells, VectorLsh}
import graft.functions.VectorOps.dot

/** The IVF and IVF+PQ index library over a corpus dir's `embeddings`
  * table: the Lloyd and product quantizers with their per-session memos,
  * n7's `cells/` index and the IVF+PQ index (`centroids.parquet`,
  * `codebooks.parquet`, `codes/`, `ledger/`) with its build, probe,
  * upsert, recode and ledger writers. graft.queries.Similarity binds it
  * to the n-queries and their oracle SQL; d11, t22 and st16 share the
  * coarse quantizer. Probes serve the query set vec_id < [[NumQueries]].
  */
object VectorIndex {

  private val Dim = VectorLsh.Dim
  private[graft] val NumQueries = 20 // vec_id < 20 are the query set
  private[graft] val TopK = 5
  private[graft] val NumCells = 8 // IVF coarse-quantizer size
  private[graft] val NumProbe = 2 // cells searched per query
  private[graft] val LloydIters = 2 // assign→mean refinement rounds over the seeds
  private[graft] val QuantScale = 1000000L // fixed-point scale for exact mean sums

  private[graft] def asDouble(c: String): Column =
    expr(s"transform($c, x -> CAST(x AS DOUBLE))")

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** (vec_id, v, norm) of (vec_id, embedding) rows, v widened to doubles. */
  private[graft] def normed(rows: DataFrame): DataFrame =
    withNorm(rows.select(col("vec_id"), asDouble("embedding").as("v")))

  /** The embeddings rows a quantizer trains on, with the memo key they
    * train under, both derived by [[corpus]] from the same arguments — no
    * caller can pair a frame with another frame's key. One parquet read,
    * which n4's query side and a build's coding pass reuse.
    */
  private[graft] final class Corpus private[VectorIndex] (
      val rows: DataFrame, val key: String)

  private[graft] def corpus(spark: SparkSession, dir: String): Corpus =
    new Corpus(Tables(spark, dir).embeddings, dir)

  /** A named split (n16's BASE): the rows `keep` selects, keyed apart from
    * the whole corpus whose memo entries every other consumer shares.
    */
  private[graft] def corpus(spark: SparkSession, dir: String, split: String,
      keep: Column): Corpus =
    new Corpus(Tables(spark, dir).embeddings.filter(keep), s"$dir#$split")

  // ------------------------------------------------------ coarse quantizer

  /** Driver-side centroid snapshot between Lloyd rounds: cid, vector, norm.
    * The whole table is ≤K rows of K·Dim doubles (8·64 here; a √n schedule
    * at x100 is 80·64) — metadata-scale, the same class as CleanJob's
    * partition-key gather, NOT a data collect.
    */
  private[graft] final case class Centroid(cid: Long, cv: Array[Double], cnorm: Double)

  /** Left-to-right sequential dot — the same summation order as the
    * graft_dot codegen loop, so driver-side norms are bit-identical to the
    * executor-computed ones the previous distributed formulation produced.
    */
  private def seqDot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  private def topCells(cents: Seq[Centroid], take: Int, v: Column, norm: Column): Column =
    TopCells.cellsCol(cents.map(c => (c.cid, c.cv, c.cnorm)), take, v, norm)

  /** Nearest-centroid cell as ONE inline codegen'd projection against the
    * driver-held centroid snapshot — no broadcast join, no per-vector
    * aggregate. The previous distributed shape (crossJoin + max_by
    * groupBy) shuffled all n rows per round because vec_id is a unique
    * grouping key (no map-side reduction is possible); the argmax runs
    * entirely inside the row's projection, so assignment costs zero
    * shuffles at ANY scale. The centroids ride on [[TopCells]] as plain
    * expression data, NOT as inlined literals: an unrolled
    * greatest-of-structs over K literal arrays generated O(K·Dim) Java
    * and at the √n quantizer schedule (K=25 at x10) Janino compile +
    * interpreted fallback took 206 s for ~32M multiply-adds. TopCells
    * keeps the generated method one call wide at any K, with the same
    * score (round-4 cosine, Spark Round-on-double semantics) and the
    * same (ccos DESC, cid ASC) tie-break the oracle's row_number uses.
    */
  private[graft] def cellExpr(cents: Seq[Centroid], v: Column, norm: Column): Column =
    topCells(cents, 1, v, norm).getItem(0)

  /** The probe plan: one row per (vector, probed cell), its `nprobe`
    * nearest cells by the assignment's own kernel in (pcos DESC, cid ASC)
    * order — no per-query window shuffle.
    */
  private[graft] def probeCells(cents: Seq[Centroid], nprobe: Int, v: Column,
      norm: Column): Column =
    explode(topCells(cents, nprobe, v, norm))

  /** Right-size the corpus frame's parallelism for CPU-bound per-row
    * kernels: the TopCells assignment is n·K·Dim multiply-adds riding the
    * SCAN's partitioning, and parquet split packing (4 MB open-cost per
    * file) can pack a small-file fixture corpus into 1-2 splits — at x100
    * that serialized ~50 G multiply-adds onto two cores (measured: n4
    * 51.5 s, d11 66 s; both ~3-4× worse than their distributed-join
    * predecessors whose shuffles spread the same work 32 ways). One
    * round-robin repartition fixes it, SKIPPED whenever the scan already
    * has enough splits — i.e. on any real cluster corpus, where 100 TB
    * arrives as ~800k native splits and this guard is a no-op.
    */
  private def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** (cid, cv, cnorm) rows collected to driver centroids, ascending cid —
    * the seeds with their executor-computed norms (bit-exact, no
    * recomputation) and a persisted `centroids.parquet` alike (doubles
    * round-trip parquet exactly). ≤K rows of metadata.
    */
  private def centroids(rows: DataFrame): Seq[Centroid] =
    rows.collect().toSeq
      .map(r => Centroid(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_.cid)

  /** Seed centroids: the vec_id < numCells vectors. */
  private def seedCentroids(e: DataFrame, numCells: Int): Seq[Centroid] =
    centroids(e.filter(col("vec_id") < numCells)
      .select(col("vec_id"), col("v"), col("norm")))

  /** One Lloyd round: integer-exact per-cell means of the assigned
    * vectors. Centroids live as driver-side literals between rounds (K·Dim
    * doubles — metadata, not data), so the distributed work is a single
    * (cell, dim)-keyed aggregate — K·Dim rows out after map-side combine —
    * collected and divided back on the driver with the IDENTICAL double
    * ops the SQL twin runs (sx.toDouble / (cnt.toDouble · scale)), so the
    * refined centroids stay bit-identical to the oracle's. The earlier
    * distributed formulation (crossJoin-assign + unique-key groupBy +
    * corpus re-join per round) paid two full n-row shuffles per round. A
    * cell that lost every member keeps its previous centroid.
    */
  private def lloydRoundLiteral(e: DataFrame, cents: Seq[Centroid]): Seq[Centroid] = {
    // TWO selects, deliberately: a generator alongside a computed column in
    // ONE select list makes ExtractGenerator evaluate that column in the
    // projection ABOVE the Generate — i.e. the full K·Dim assignment kernel
    // re-runs per EXPLODED ELEMENT, a silent Dim× (64×) blow-up that
    // profiled at 30 s/round at x100 (vs 1.7 s for the assignment itself).
    // Projecting `cell` first pins it below the Generate: once per vector.
    val sums = e
      .select(cellExpr(cents, col("v"), col("norm")).as("cell"), col("v"))
      .select(col("cell"), posexplode(col("v")))
      .groupBy("cell", "pos")
      .agg(
        sum(expr(s"CAST(round(col * $QuantScale) AS BIGINT)")).as("sx"),
        count(lit(1)).as("cnt"))
      .collect()
    val byCell = sums.groupBy(_.getLong(0))
    cents.map { c =>
      byCell.get(c.cid) match {
        case Some(rows) =>
          val cv = rows.sortBy(_.getInt(1))
            .map(r => r.getLong(2).toDouble / (r.getLong(3) * QuantScale.toDouble))
          Centroid(c.cid, cv, math.sqrt(seqDot(cv, cv)))
        case None => c
      }
    }
  }

  /** The `lloydIters`-refined quantizer as a driver-side centroid list:
    * seeds, then assign→mean rounds, each one distributed aggregate + one
    * K·Dim-row collect.
    */
  private def refinedCentroids(e: DataFrame, numCells: Int,
      lloydIters: Int): Seq[Centroid] =
    (1 to lloydIters).foldLeft(seedCentroids(e, numCells))(
      (c, _) => lloydRoundLiteral(e, c))

  /** The memos here are LRU-capped [[BoundedMemo]]s — keys are
    * session-identity strings (never the session object) and values
    * driver-side metadata, so unlike Dedup's frame memos there is no
    * lineage to unpersist and no live session to test for; the cap alone
    * stops unbounded growth across (session, corpus, schedule) keys.
    * Evicted = recomputed on re-visit. (Declared before the memos: object
    * vals initialize in order.)
    */
  private val MemoCapacity = 8

  /** [[refinedCentroids]] memoized per (session, corpus key, K, rounds) —
    * the Dedup.sigsFor discipline: n4, d11, n12 and n7's index build all
    * cluster the SAME corpus on the SAME schedule, and a Verify/Bench run
    * invokes them back to back, so the Lloyd rounds (each a full-corpus
    * aggregate + a K·Dim-row collect) run once per session instead of once
    * per consumer. The entry is K·Dim doubles of driver-side metadata —
    * centroids, never data. ScaleStress clears it alongside Dedup's memos
    * so scaling curves stay cold-timed.
    */
  private val quantMemo = new BoundedMemo[
    (String, String, Int, Int), Seq[Centroid]](MemoCapacity)

  /** Drop every memo here (one benchmark hook, mirroring
    * Dedup.clearMemos, so cold studies time every query cold).
    */
  private[graft] def clearMemos(): Unit = {
    quantMemo.clear()
    pqMemo.clear()
    pqIndexMemo.clear()
    pqProbeMemo.clear()
    quantReadMemo.clear()
  }

  /** Session identity for memo keys WITHOUT retaining the session object:
    * application id + the session's identity hash (two live sessions of
    * one app differ in the latter; a stopped session leaves only this
    * string behind).
    */
  private def sessionKey(spark: SparkSession): String =
    s"${spark.sparkContext.applicationId}#${System.identityHashCode(spark)}"

  /** The coarse quantizer trained on a corpus (memoized, [[quantMemo]])
    * with the ASSIGNED CORPUS it partitions: `(vec_id, v, norm, cell)`,
    * widened for the per-row kernels. Every consumer trains through here,
    * so n4, d11, n7, n12, the IVF+PQ builds and st16 share one clustering.
    * The frame is lazy (a caller that needs only the centroids runs
    * nothing past training) and carries the vectors next to the cells, so
    * no consumer re-joins the corpus by vec_id (a full n-row shuffle).
    */
  private[graft] def assignedCorpus(c: Corpus, numCells: Int = NumCells,
      lloydIters: Int = LloydIters): (DataFrame, Seq[Centroid]) = {
    val e = widen(normed(c.rows))
    val cents = quantMemo.getOrElseUpdate(
      (sessionKey(c.rows.sparkSession), c.key, numCells, lloydIters),
      refinedCentroids(e, numCells, lloydIters))
    (e.withColumn("cell", cellExpr(cents, col("v"), col("norm"))), cents)
  }

  /** Lloyd-refined cell assignment (vec_id, cell) — the coarse-quantizer
    * product n4's inverted lists are built from, shared by t22's
    * cluster cap and the SemanticDedupSpec/VectorIngestSpec checks.
    */
  def semanticCells(spark: SparkSession, dir: String,
      numCells: Int = NumCells): DataFrame =
    assignedCorpus(corpus(spark, dir), numCells)._1.select("vec_id", "cell")

  /** Streaming cell assignment (st16's projection stage): the coarse
    * quantizer trains BATCH-side from the corpus dir (memoized — the same
    * centroids n4/d11/n12 share: index built offline, maintained online),
    * then rides the unbounded vector stream as a static inline projection
    * — per arriving vector one TopCells kernel call, no state, no join.
    */
  def assignCellsToStream(spark: SparkSession, dir: String,
      vecs: DataFrame, numCells: Int = NumCells): DataFrame = {
    val cents = assignedCorpus(corpus(spark, dir), numCells)._2
    normed(vecs)
      .withColumn("cell", cellExpr(cents, col("v"), col("norm")))
      .select("vec_id", "cell")
  }

  /** Rank probed IVF candidates by exact cosine: (query_id, v1, n1,
    * vec_id, v2, n2, cell) rows, self-pairs already dropped, to the top
    * [[TopK]] per query — rounded cosine with the id tie-break, the n1
    * determinism contract. The window's exchange carries only the
    * cell-pruned candidates. Shared by n4's from-scratch search and n7's
    * disk probe.
    */
  private[graft] def cosineRanked(cands: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    cands
      .withColumn("cos", round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"), col("cos"))
      .orderBy("query_id", "rank")
  }

  // ------------------------------------------------- n7: the cells/ index

  /** Persist a coarse quantizer as `centroids.parquet`: K rows of
    * (cid, cv, cnorm), one file. The one writer for n7 and IVF+PQ alike.
    */
  private def writeCentroids(spark: SparkSession, indexDir: String,
      cents: Seq[Centroid]): Unit = {
    import spark.implicits._
    cents.map(c => (c.cid, c.cv.toSeq, c.cnorm)).toDF("cid", "cv", "cnorm")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/centroids.parquet")
  }

  /** Read a persisted coarse quantizer back, cold: one K-row collect. n7's
    * probe calls it directly; IVF+PQ reads through [[readIvfPqQuantizers]]'
    * process-resident cache.
    */
  private def readCentroids(spark: SparkSession, indexDir: String): Seq[Centroid] =
    centroids(spark.read.parquet(s"$indexDir/centroids.parquet"))

  /** Build the n7 index artifacts cold: train (or take the session's
    * memoized) quantizer, then write `centroids.parquet` and the
    * cell-partitioned `cells/` — the corpus (vec_id, v, norm) Hive-
    * PARTITIONED BY CELL — overwriting whatever the dir held. It returns
    * the centroids it wrote. ScaleStress's curve times this build as part
    * of n7; SCALING.md's n7 study records its cost.
    */
  def buildIvfIndex(spark: SparkSession, dir: String, indexDir: String,
      numCells: Int = NumCells, lloydIters: Int = LloydIters): Seq[Centroid] = {
    val (assigned, cents) = assignedCorpus(corpus(spark, dir), numCells, lloydIters)
    writeCentroids(spark, indexDir, cents)
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/cells")
    cents
  }

  /** Probe the persisted n7 index: standalone — centroids come back from
    * the index, never recomputed; the corpus scan carries the
    * probed-cells predicate into the file index (PartitionFilters), so
    * unprobed cell directories are never opened.
    */
  def probeIvfIndex(spark: SparkSession, dir: String, indexDir: String,
      nprobe: Int): DataFrame =
    probeWithCents(spark, dir, indexDir, readCentroids(spark, indexDir), nprobe)

  /** The probe body against already-held centroids. ONE driver collect
    * builds the whole probe plan — each query's nprobe cells (the same
    * TopCells kernel the build used) together with its vector and norm,
    * ≤ |Q|·nprobe rows of metadata — where the previous shape ran a
    * separate probed-cells job and then re-scanned the embeddings table
    * twice more inside the scoring job (once for the probe side, once for
    * the query side). The collected rows serve all three uses: the
    * pruning predicate (partition filter on the cell directories), the
    * broadcast probe relation, and the query vectors themselves — so the
    * scoring job touches ONLY the probed index partitions.
    */
  private[graft] def probeWithCents(spark: SparkSession, dir: String,
      indexDir: String, cents: Seq[Centroid], nprobe: Int): DataFrame = {
    import spark.implicits._
    val probeRows = normed(Tables(spark, dir).embeddings)
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        probeCells(cents, nprobe, col("v"), col("norm")).as("cell"),
        col("v").as("v1"), col("norm").as("n1"))
      .collect()
    val probedCells = probeRows.map(_.getLong(1)).distinct.toSeq
    val probe = probeRows.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2), r.getDouble(3)))
      .toDF("query_id", "cell", "v1", "n1")
    val corpus = spark.read.parquet(s"$indexDir/cells")
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isin(probedCells: _*))
      .select(col("vec_id"), col("v").as("v2"), col("norm").as("n2"), col("cell"))
    cosineRanked(corpus.join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id")))
  }

  // ---------------------------------------------------- product quantizer

  /** Product-quantization schedule (Jégou et al., TPAMI 2011): [[Dim]]=64
    * splits into [[PqM]]=4 subspaces of [[PqSubDim]]=16 dims, each with a
    * [[PqK]]=16-codeword codebook refined by [[PqIters]] per-subspace
    * Lloyd rounds — a 256-byte float vector compresses to FOUR code bytes
    * (64×), vs SQ8's 4×. At 100 TB of vectors the codes table is ~1.6 TB:
    * the whole corpus's ADC scan reads codes only, never raw vectors.
    */
  private[graft] val PqM = 4
  private[graft] val PqSubDim: Int = Dim / PqM
  private[graft] val PqK = 16
  private[graft] val PqIters = 2

  /** Driver-side PQ codebooks: shared ascending codeword ids (the seed
    * vec_ids) and [m][code][i] sub-centroids — M·K·subDim doubles (4·16·16
    * = 1,024 here), metadata-scale like [[Centroid]] snapshots.
    */
  private[graft] final case class PqBook(
      cids: Array[Long], cbs: Array[Array[Array[Double]]])

  /** (vec_id, v) of the (vec_id, embedding) rows PQ can code: n5's
    * degenerate-vector guard extended to FINITENESS — zero/NaN amax
    * vectors carry no direction, and an ±Inf component (abs-max = +Inf)
    * would feed non-finite squared distances into the assignment and ADC
    * kernels just as NaN would. NaN and +Inf are excluded explicitly
    * (amax is an abs-max, so those are the only non-finite values),
    * applied identically in every PQ oracle CTE. The one guard shared by
    * training ([[pqTrained]]) and every coding pass ([[codedBatch]]).
    */
  private def pqVectors(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      .filter(col("amax") > 0 && !isnan(col("amax")) &&
        col("amax") =!= lit(Double.PositiveInfinity))
      .drop("amax")

  /** The corpus PQ operates on: the embeddings table through [[pqVectors]]. */
  private[graft] def pqCorpus(spark: SparkSession, dir: String): DataFrame =
    pqVectors(Tables(spark, dir).embeddings)

  /** (vec_id, m, sv) sub-vector explosion — M narrow rows per vector, a
    * projection over the scan (no shuffle). Two selects for the same
    * ExtractGenerator reason as [[lloydRoundLiteral]].
    */
  private[graft] def pqSub(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(expr(s"sequence(0L, ${PqM - 1}L)")).as("m"), col("v"))
      .select(col("vec_id"), col("m"),
        expr(s"slice(v, CAST(m * $PqSubDim + 1 AS INT), $PqSubDim)").as("sv"))

  /** Seed codebooks: sub-slices of the vec_id < [[PqK]] vectors — one
    * K·Dim-double collect, the [[seedCentroids]] class of driver
    * materialization (bounded by the CONSTANT PqK, never the corpus).
    */
  private[graft] def pqSeeds(e: DataFrame): PqBook = {
    val rows = e.filter(col("vec_id") < PqK).select("vec_id", "v")
      .collect().sortBy(_.getLong(0))
    require(rows.nonEmpty, s"no PQ seed vectors (vec_id < $PqK) in the corpus")
    val cids = rows.map(_.getLong(0))
    val cbs = Array.tabulate(PqM) { m =>
      rows.map { r =>
        val v = r.getSeq[Double](1).toArray
        java.util.Arrays.copyOfRange(v, m * PqSubDim, (m + 1) * PqSubDim)
      }
    }
    PqBook(cids, cbs)
  }

  /** One per-subspace Lloyd round, all M subspaces in ONE distributed
    * aggregate: assign every (vector, subspace) to its nearest codeword
    * inline (PqNearest — zero shuffles, like [[cellExpr]]), fixed-point
    * BIGINT sums per (m, code, pos) — M·K·subDim rows after map-side
    * combine — collected and divided back with the identical double ops
    * the SQL twin runs. A codeword that lost every member keeps its
    * previous sub-centroid.
    */
  private[graft] def pqRound(sub: DataFrame, book: PqBook): PqBook = {
    // TWO selects (the lloydRoundLiteral ExtractGenerator hazard): `code`
    // must project BELOW the posexplode or the K·subDim kernel re-runs
    // once per exploded element
    val sums = sub
      .select(col("m"), col("sv"),
        PqNearest.codeCol(book.cids, book.cbs, col("m"), col("sv")).as("code"))
      .select(col("m"), col("code"), posexplode(col("sv")))
      .groupBy("m", "code", "pos")
      .agg(
        sum(expr(s"CAST(round(col * $QuantScale) AS BIGINT)")).as("sx"),
        count(lit(1)).as("cnt"))
      .collect()
    val byKey = sums.groupBy(r => (r.getLong(0), r.getLong(1)))
    val cbs = Array.tabulate(PqM) { m =>
      book.cids.indices.toArray.map { ci =>
        byKey.get((m.toLong, book.cids(ci))) match {
          case Some(rs) =>
            rs.sortBy(_.getInt(2))
              .map(r => r.getLong(3).toDouble / (r.getLong(4) * QuantScale.toDouble))
          case None => book.cbs(m)(ci)
        }
      }
    }
    PqBook(book.cids, cbs)
  }

  private val pqMemo = new BoundedMemo[(String, String, Int, Int, Int), PqBook](MemoCapacity)

  /** A corpus's PQ-codable vectors, widened, with the codebooks refined on
    * exactly that frame — memoized per (session, corpus key) like
    * [[assignedCorpus]]'s quantizer: n10, n11, n12 and the IVF+PQ build
    * train on the same corpus and a Verify/Bench run invokes them back to
    * back.
    */
  private[graft] def pqTrained(c: Corpus): (DataFrame, PqBook) = {
    val e = widen(pqVectors(c.rows))
    (e, pqMemo.getOrElseUpdate(
      (sessionKey(c.rows.sparkSession), c.key, PqM, PqK, PqIters), {
      val sub = pqSub(e)
      (1 to PqIters).foldLeft(pqSeeds(e))((b, _) => pqRound(sub, b))
    }))
  }

  /** The codebooks as a (m, cid, cv) frame — M·K rows of driver metadata,
    * broadcast wherever a plan needs codewords next to data.
    */
  private[graft] def pqBookDf(spark: SparkSession, book: PqBook): DataFrame = {
    import spark.implicits._
    val rows = for {
      m <- 0 until PqM
      ci <- book.cids.indices
    } yield (m.toLong, book.cids(ci), book.cbs(m)(ci).toSeq)
    rows.toDF("m", "cid", "cv")
  }

  /** The M per-subspace code columns c0..cM-1 for a (vec_id, v, ...) frame
    * — one PqNearest virtual call per subspace, all riding the scan's
    * projection (shared by n11's flat scan and the IVF+PQ coding).
    */
  private[graft] def pqCodeCols(book: PqBook): Seq[Column] =
    (0 until PqM).map { m =>
      PqNearest.codeCol(book.cids, book.cbs, lit(m.toLong),
        expr(s"slice(v, ${m * PqSubDim + 1}, $PqSubDim)")).as(s"c$m")
    }

  /** Per-query ADC lookup tables, wide: (query_id, l0..lM-1), each l a
    * cid→fixed-point-distance map over one subspace's codewords. |Q|·M·K
    * entries by the vec_id < NumQueries contract — broadcast wherever the
    * codes scan needs them (shared by n11 and the IVF+PQ probes).
    */
  private[graft] def pqLutW(spark: SparkSession, dir: String, book: PqBook): DataFrame = {
    val cb = pqBookDf(spark, book)
    val q = pqSub(pqCorpus(spark, dir).filter(col("vec_id") < NumQueries))
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("sv", "qsv")
    // |Q|·M rows join M·K codebook rows: both constant/contract-bounded
    val lut = q.join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("cid"),
        expr(s"""CAST(round(aggregate(zip_with(qsv, cv,
          |  (a, b) -> (a - b) * (a - b)),
          |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) * $QuantScale) AS BIGINT)"""
          .stripMargin).as("fp"))
    val perM = lut.groupBy("query_id", "m")
      .agg(map_from_entries(collect_list(struct(col("cid"), col("fp")))).as("l"))
    val lAggs = (0 until PqM).map(m =>
      first(when(col("m") === m, col("l")), ignoreNulls = true).as(s"l$m"))
    perM.groupBy("query_id").agg(lAggs.head, lAggs.tail: _*)
  }

  /** The summed fixed-point ADC distance over the M code columns. */
  private[graft] def adcAfp: Column =
    (0 until PqM).map(m => expr(s"element_at(l$m, c$m)")).reduce(_ + _)

  private def adist: Column =
    round(col("afp").cast("double") / lit(QuantScale.toDouble), 4).as("adist")

  // ----------------------------------------------- IVF+PQ: probe and rank

  /** The cell-pruned ADC stage's tail, shared by the from-scratch
    * ([[ivfPqScored]]) and the persisted ([[probeIvfPqScored]]) probes:
    * coded candidates (vec_id, cell, c0..cM-1) joined to the probe plan
    * (query_id, cell) and the per-query LUTs — both |Q|-bounded
    * broadcasts — self-pairs dropped, afp the exact fixed-point ADC
    * distance.
    */
  private def adcScored(cands: DataFrame, probe: DataFrame,
      lutW: DataFrame): DataFrame =
    cands.join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lutW), Seq("query_id"))
      .withColumn("afp", adcAfp)

  /** The shared n12/n14 stage-1: cell-pruned, ADC-scored candidates —
    * (query_id, vec_id, cell, afp). One corpus projection assigns coarse
    * cell + M fine codes (two inline kernels, no join between
    * quantizers); the probe relation and per-query LUTs ride |Q|-bounded
    * broadcasts; afp is the exact fixed-point ADC distance. numCells
    * follows the same √n scale schedule as n4/d11 (ScaleStress passes
    * d11Cells).
    */
  private[graft] def ivfPqScored(spark: SparkSession, dir: String,
      numCells: Int): DataFrame = {
    val c = corpus(spark, dir)
    val cents = assignedCorpus(c, numCells)._2
    val book = pqTrained(c)._2
    adcScored(codedBatch(Tables(spark, dir).embeddings, cents, book),
      pqProbe(spark, dir, cents, NumProbe), pqLutW(spark, dir, book))
  }

  /** The IVF+PQ probe plan (query_id, cell): each guarded query vector's
    * `nprobe` nearest cells.
    */
  private def pqProbe(spark: SparkSession, dir: String, cents: Seq[Centroid],
      nprobe: Int): DataFrame =
    withNorm(pqCorpus(spark, dir).filter(col("vec_id") < NumQueries))
      .select(col("vec_id").as("query_id"),
        probeCells(cents, nprobe, col("v"), col("norm")).as("cell"))

  /** Rank a cell-pruned ADC stage (query_id, vec_id, cell, afp) to the top
    * [[TopK]] per query by the exact-integer (afp, vec_id) order — the
    * candidate-bounded window n4 audits (candidates are cell-pruned, not
    * the whole corpus, so the window's exchange carries the pruned set).
    */
  private[graft] def adcRanked(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(asc("afp"), asc("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"), adist)
      .orderBy("query_id", "rank")
  }

  /** Stage-1 pool size of the IVF+PQ exact rescore (n14/n15). At 4
    * BYTES/VECTOR the pool must cover the query's whole cluster, because
    * within-cluster ADC order is quantization noise (PqSpec measures
    * pool=4·k at 0.64 recall on the blob fixture — the pool IS the recall
    * dial, FAISS's IndexRefine k_factor); n6 rescores an SQ8 scan (8
    * bits/dim, quantized order already near-faithful) at pool = 4·k. 64 ≈
    * the fixture's cluster occupancy; production picks pool ≈ expected
    * occupancy of one probed cell (n/K, a measured quantity — pr2's
    * census), and the rescore cost stays |Q|·pool raw-vector fetches
    * either way.
    */
  private[graft] val PqRescorePool = 64

  /** The shared n14/n15 stage-2: pool the `pool` best ADC candidates per
    * query from `scored` (any cell-pruned ADC stage carrying
    * (query_id, vec_id, afp) — n14 passes the session-memoized
    * [[ivfPqScored]], n15 the persisted index's [[probeIvfPqScored]]),
    * fetch raw vectors for the pool ONLY, and re-rank by exact cosine.
    */
  private[graft] def rescoredTopK(spark: SparkSession, dir: String,
      scored: DataFrame, pool: Int): DataFrame = {
    val wPool = Window.partitionBy("query_id").orderBy(asc("afp"), asc("vec_id"))
    val pooled = scored
      .withColumn("crank", row_number().over(wPool))
      .filter(col("crank") <= pool)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adist)
    // raw vectors re-enter ONLY here, pruned by the pool broadcast; norm
    // and cosine spellings are n6's exactly (graft_dot ≡ the oracle's
    // sequential list_dot_product / list_sum order). Norms are computed
    // ABOVE the join, on the ≤ |Q|·pool survivors — below it they would
    // run O(n·Dim) work for rows the broadcast is about to drop
    val nbr = pqCorpus(spark, dir)
    val fetched = nbr.join(broadcast(pooled), nbr("vec_id") === pooled("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("adist"),
        col("v").as("nv"))
      .withColumn("nn", sqrt(dot(col("nv"), col("nv"))))
    val q = withNorm(pqCorpus(spark, dir).filter(col("vec_id") < NumQueries))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val rescored = fetched.join(broadcast(q), Seq("query_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
    // ≤ |Q|·pool rows reach this window — pool-bounded, not corpus
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    rescored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos"), col("adist"))
      .orderBy("query_id", "rank")
  }

  // -------------------------------------------- IVF+PQ: the persisted index

  /** n13's build memo: the built quantizers with the artifact's
    * [[ivfPqArtifactSig]] taken right after the build. A hit is served
    * only while the signature still matches, so a deleted or rewritten
    * `codes/cell=<c>` partition (or any other artifact file) rebuilds
    * instead of being served damaged — the [[readIvfPqQuantizers]]
    * pattern.
    */
  private val pqIndexMemo = new BoundedMemo[
    (String, String, String, Int), (String, (Seq[Centroid], PqBook))](MemoCapacity)

  /** n13's probe-plan memo — (query_id, cell) pairs + the distinct probed
    * cells, ≤ |Q|·nprobe rows of driver metadata (see probeIvfPqScored).
    */
  private val pqProbeMemo = new BoundedMemo[
    (String, String, String, Int, Int),
    (Seq[(Long, Long)], Seq[Long])](MemoCapacity)

  /** Build the persisted IVF+PQ index, once per (session, corpus, index
    * dir, schedule) — n7's "build once, probe many" applied to n12's
    * layout. Three artifacts:
    *
    *  - `centroids.parquet` — the coarse quantizer, metadata-scale;
    *  - `codebooks.parquet` — the M·K PQ sub-centroids, metadata-scale;
    *  - `codes/` — (vec_id, c0..cM-1) Hive-PARTITIONED BY CELL: the whole
    *    corpus at ~4 longs/vector, so probe-time cell selection is
    *    PARTITION PRUNING over a table two orders of magnitude smaller
    *    than n7's raw-vector cells/ — at 100 TB raw this is the ~1.6 TB
    *    artifact an ANN serving tier actually holds.
    *
    * Doubles round-trip parquet exactly and codes are integers, so the
    * disk probe reproduces n12's from-scratch answer bit-for-bit — n13
    * shares n12's oracle, pinning index and computation together.
    */
  def buildIvfPqIndex(spark: SparkSession, dir: String, indexDir: String,
      numCells: Int = NumCells): (Seq[Centroid], PqBook) = {
    val key = (sessionKey(spark), dir, indexDir, numCells)
    pqIndexMemo.get(key) match {
      case Some((sig, v)) if sig == ivfPqArtifactSig(spark, indexDir) => v
      case _ =>
        // the artifact is about to reflect THIS schedule: sibling entries
        // for the same dir would pair stale metadata with the new codes/
        pqIndexMemo.keys
          .filter(k => k._3 == indexDir && k != key)
          .foreach(pqIndexMemo.remove)
        pqProbeMemo.keys.filter(_._2 == indexDir).foreach(pqProbeMemo.remove)
        val v = buildIvfPqIndexCold(spark, corpus(spark, dir), indexDir, numCells)
        pqIndexMemo.put(key, (ivfPqArtifactSig(spark, indexDir), v))
        v
    }
  }

  /** The one cold build: train both quantizers on the corpus rows
    * (memoized under its key), persist them, then code the same rows into
    * `codes/` + `ledger/` through [[writeCodes]]. n13 builds over the
    * whole corpus; n16's base build over its BASE split.
    */
  private[graft] def buildIvfPqIndexCold(spark: SparkSession, c: Corpus,
      indexDir: String, numCells: Int = NumCells): (Seq[Centroid], PqBook) = {
    val cents = assignedCorpus(c, numCells)._2
    writeCentroids(spark, indexDir, cents)
    val book = pqTrained(c)._2
    pqBookDf(spark, book).coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/codebooks.parquet")
    writeCodes(spark, indexDir, c.rows, cents, book)
    (cents, book)
  }

  /** Process-resident cache of [[readIvfPqQuantizersCold]], keyed by the
    * quantizer files' own fs metadata (every part file's path+length+mtime
    * — [[graft.core.FsUtil.filesSig]], two cheap listings, no jobs): a
    * REBUILD rewrites those files (fresh part-file UUIDs), so a stale
    * entry can never match a mutated artifact, while repeat probes and
    * upsert/recode maintenance (which never touch quantizers by contract)
    * skip the two collect jobs — measured 0.24 s per probe at sf0.1. This
    * is exactly what an ANN serving tier does: quantizers are
    * process-resident for the server's lifetime, revalidated against the
    * artifact, never re-fetched per query.
    */
  private val quantReadMemo = new BoundedMemo[
    (String, String, String), (Seq[Centroid], PqBook)](MemoCapacity)

  /** The frozen quantizers read back from a persisted IVF+PQ index — two
    * metadata-scale collects (the n7 centroid-read class: K·Dim +
    * M·K·subDim doubles, never data). Shared by the disk probe (n13/n15)
    * and the maintenance and recode writers, which must code batches
    * under EXACTLY the artifact's quantizers.
    */
  private def readIvfPqQuantizers(spark: SparkSession,
      indexDir: String): (Seq[Centroid], PqBook) = {
    val sig = FsUtil.filesSig(spark,
      Seq(s"$indexDir/centroids.parquet", s"$indexDir/codebooks.parquet"))
    quantReadMemo.getOrElseUpdate((sessionKey(spark), indexDir, sig),
      readIvfPqQuantizersCold(spark, indexDir))
  }

  private def readIvfPqQuantizersCold(spark: SparkSession,
      indexDir: String): (Seq[Centroid], PqBook) = {
    val cents = readCentroids(spark, indexDir)
    val bookRows = spark.read.parquet(s"$indexDir/codebooks.parquet")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val cids = bookRows.filter(_._1 == 0L).map(_._2).sorted.toArray
    val book = PqBook(cids, Array.tabulate(PqM) { m =>
      bookRows.filter(_._1 == m.toLong).sortBy(_._2).map(_._3).toArray
    })
    (cents, book)
  }

  private def centsSig(cents: Seq[Centroid]): Int =
    cents.map(c => (c.cid, c.cnorm)).hashCode()

  /** The persisted-index twin of [[ivfPqScored]]: the cell-pruned,
    * ADC-scored candidate stage (query_id, vec_id, cell, afp) with every
    * input read FROM THE INDEX — quantizers come back as two
    * metadata-scale collects (the n7 centroid-read class), probe cells
    * collect to ≤ |Q|·nprobe driver rows serving both the
    * partition-pruning predicate and the broadcast probe relation, and
    * the scoring job reads ONLY the probed cells' code partitions — the
    * raw corpus is never opened. [[probeIvfPqIndex]] (n13) ranks this
    * frame directly; [[rescoreProbedIndex]] (n15) pools it and
    * exact-rescores.
    */
  private def probeIvfPqScored(spark: SparkSession, dir: String,
      indexDir: String, nprobe: Int): DataFrame = {
    import spark.implicits._
    val (cents, book) = readIvfPqQuantizers(spark, indexDir)
    // probe-plan memo: for a fixed corpus, quantizer and nprobe the
    // ≤ |Q|·nprobe collected rows are immutable, so n15 reuses the plan
    // n13 collected and skips the collect job; the centroid signature
    // ties the entry to the EXACT quantizer read back from disk
    val memoKey = (sessionKey(spark), indexDir, dir, nprobe, centsSig(cents))
    val (probePairs, probedCells) = pqProbeMemo.getOrElseUpdate(memoKey, {
      val probeRows = pqProbe(spark, dir, cents, nprobe).collect()
      (probeRows.toSeq.map(r => (r.getLong(0), r.getLong(1))),
        probeRows.map(_.getLong(1)).distinct.toSeq)
    })
    val corpus = spark.read.parquet(s"$indexDir/codes")
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isin(probedCells: _*))
    adcScored(corpus, probePairs.toDF("query_id", "cell"), pqLutW(spark, dir, book))
  }

  /** Probe the persisted IVF+PQ index ([[probeIvfPqScored]]) and rank —
    * n13's serving read path.
    */
  def probeIvfPqIndex(spark: SparkSession, dir: String, indexDir: String,
      nprobe: Int): DataFrame =
    adcRanked(probeIvfPqScored(spark, dir, indexDir, nprobe))

  /** n15's probe+rescore against an EXPLICIT index dir — the deployment
    * shape (the registry twin derives its dir then delegates here; a
    * serving tier passes its own artifact root, nprobe, and pool — the
    * recall dial, sized per [[PqRescorePool]]; only the default pool is
    * oracle-matched).
    */
  def rescoreProbedIndex(spark: SparkSession, dir: String,
      indexDir: String, nprobe: Int = NumProbe,
      pool: Int = PqRescorePool): DataFrame =
    rescoredTopK(spark, dir,
      probeIvfPqScored(spark, dir, indexDir, nprobe), pool)

  // ------------------------------------------ IVF+PQ: codes/ and ledger/

  /** Hash-bucket count for the `ledger/` artifact — a CONSTANT, so a
    * batch's bucket set collects to ≤ this many driver rows whatever the
    * corpus size. 16 suffices because the ledger is only ever read
    * bucket-PRUNED by a batch's ids; more buckets would only shrink the
    * per-lookup read at the cost of more tiny files at fixture scale.
    * At 100 TB a deployment sizes this like any Hive bucket count
    * (√corpus-ish); the operators take the count from the constant at
    * write AND read, so they can never disagree.
    */
  private[graft] val LedgerBuckets = 16L

  /** Metadata signature of every file of the persisted IVF+PQ artifact
    * ([[graft.core.FsUtil.filesSig]]: path, length and mtime through the
    * indexDir's OWN FileSystem, listings only, no jobs) — n13's build memo
    * serves a hit only while it is unchanged.
    */
  private def ivfPqArtifactSig(spark: SparkSession, indexDir: String): String =
    FsUtil.filesSig(spark,
      Seq("centroids.parquet", "codebooks.parquet", "codes", "ledger")
        .map(a => s"$indexDir/$a"))

  private def ledgerBucket(id: Column): Column = pmod(id, lit(LedgerBuckets))

  /** Derive `ledger/` — the compact (vec_id → cell) map, Hive-partitioned
    * by `b = vec_id mod [[LedgerBuckets]]` — wholesale from the COMMITTED
    * `codes/`: a column-pruned read of the 4-byte/vector artifact (never
    * the raw corpus), so the builds pay one codes-sized projection write
    * and a crashed maintenance run repairs the ledger with exactly this
    * call. The ledger exists for n17's old-cell lookup: `codes/` is
    * partitioned by CELL, so locating a batch of IDS there would list and
    * scan every cell directory, while the bucket layout prunes the lookup
    * to the batch's ≤ [[LedgerBuckets]] bucket dirs — the d14 ledger
    * discipline applied to the ANN artifact. Static overwrite for the
    * same stale-partition reason as the codes builds.
    */
  private[graft] def writeLedgerFromCodes(spark: SparkSession,
      indexDir: String): Unit =
    spark.read.parquet(s"$indexDir/codes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .withColumn("b", ledgerBucket(col("vec_id")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("b")
      .parquet(s"$indexDir/ledger")

  /** Self-heal for pre-ledger artifacts (and the documented crash
    * repair): if `ledger/` is missing, re-derive it from `codes/`. Cost
    * is bounded by the codes artifact, and it requires codes/ to be
    * wholly readable — an artifact with foreign garbage partitions must
    * be repaired before its first maintenance call, never during one.
    */
  private def ensureLedger(spark: SparkSession, indexDir: String): Unit =
    if (!FsUtil.allExist(spark, Seq(s"$indexDir/ledger")))
      writeLedgerFromCodes(spark, indexDir)

  /** A (vec_id, embedding) batch coded under FROZEN quantizers:
    * (vec_id, cell, c0..cM-1) after the [[pqVectors]] finiteness guard,
    * cell + M codes in one projection — two inline kernels (TopCells,
    * PqNearest), no join between the quantizers' outputs. Shared by the
    * from-scratch n12 stage, the cold build, the frozen recode and upsert.
    */
  private def codedBatch(batch: DataFrame, cents: Seq[Centroid],
      book: PqBook): DataFrame =
    withNorm(widen(pqVectors(batch)))
      .withColumn("cell", cellExpr(cents, col("v"), col("norm")))
      .select(col("vec_id") +: col("cell") +: pqCodeCols(book): _*)

  /** The one WHOLE-artifact writer of `codes/`: `corpus` coded under the
    * given quantizers replaces every cell partition, then `ledger/` is
    * re-derived from the committed codes ([[writeLedgerFromCodes]]).
    * STATIC overwrite (r19 advice): the session-global dynamic mode would
    * leave a cell partition from a PREVIOUS artifact under this dir alive
    * whenever the new coding assigns it no rows — a rebuild must truncate
    * codes/ wholly, stale cells included.
    */
  private def writeCodes(spark: SparkSession, indexDir: String,
      corpus: DataFrame, cents: Seq[Centroid], book: PqBook): Unit = {
    codedBatch(corpus, cents, book)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell")
      .parquet(s"$indexDir/codes")
    writeLedgerFromCodes(spark, indexDir)
  }

  /** FROZEN RECODE: replace the artifact's `codes/` and `ledger/` with
    * `corpus` (vec_id, embedding) coded under the quantizers the artifact
    * already holds — the cold build's own writer ([[writeCodes]]) with no
    * retraining. It is the reference a maintained index must equal (every
    * [[upsertIvfPqIndex]] chain serves what one recode of the resulting
    * corpus serves) and the repair for a crash inside a maintenance
    * commit. It shares no merge logic with upsert: the corpus is read
    * once and the whole artifact rewritten, so its cost tracks the
    * corpus, never a batch. `corpus` must not be read from `codes/`
    * itself (the static overwrite truncates its own input).
    */
  def recodeIvfPqIndex(spark: SparkSession, indexDir: String,
      corpus: DataFrame): Unit = {
    val (cents, book) = readIvfPqQuantizers(spark, indexDir)
    writeCodes(spark, indexDir, corpus, cents, book)
  }

  /** The existing `part=v` directories of a partitioned artifact: explicit
    * paths through ONE FileSystem handle of the root's own scheme.
    */
  private def existingPartitions(spark: SparkSession, root: String,
      part: String, values: Seq[Long]): Seq[String] = {
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    values.map(v => s"$root/$part=$v").filter(p => fs.exists(new Path(p)))
  }

  /** Merge a batch into a partitioned artifact (`codes/` by cell,
    * `ledger/` by bucket): the batch's existing partitions `dirs` read
    * back through explicit paths (so untouched directories are never
    * listed, let alone opened), rows for `ids` dropped (batch-sized, AQE
    * broadcasts it) so moved, re-landed and guard-rejected ids leave no
    * stale row, the `fresh` rows unioned in and written back via dynamic
    * partition overwrite (input paths are the partition dirs, the output
    * path their parent, so the self-overwrite guard stays quiet). The
    * write is repartitioned by the partition column, so every rewritten
    * partition is ONE file: without the shuffle a touched partition keeps
    * its existing files' count and each call adds up to one more file per
    * batch partition, so repeated maintenance would pile up small files.
    *
    * `vacated` are partitions no `fresh` row lands in. Dynamic overwrite
    * only replaces partitions PRESENT in the written frame, so such a
    * partition whose every row left would keep its stale directory: when
    * `vacated` is non-empty the merged frame is pinned, the partitions
    * that still receive rows are collected (≤K cells, quantizer-bounded),
    * and the vacated-and-absent dirs are deleted after the commit. Only
    * `codes/` passes any, DELIBERATELY: a stale codes row changes probe
    * answers, while a superfluous ledger row (a bucket emptied by a pure
    * delete keeps its rows) only WIDENS a later upsert's touched set,
    * whose anti-join then no-ops.
    */
  private def mergePartitions(spark: SparkSession, root: String, part: String,
      dirs: Seq[String], ids: DataFrame, fresh: DataFrame,
      vacated: Seq[Long] = Nil): Unit = {
    val merged =
      if (dirs.isEmpty) fresh
      else spark.read.option("basePath", root)
        .parquet(dirs: _*)
        .withColumn(part, col(part).cast("long"))
        .join(ids, Seq("vec_id"), "left_anti")
        .select(fresh.columns.map(col): _*)
        .unionByName(fresh)
    def write(df: DataFrame): Unit =
      df.repartition(col(part)).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part)
        .parquet(root)
    if (vacated.isEmpty) write(merged)
    else {
      // pin the merged frame: the present-partitions job and the write
      // must see ONE evaluation (the write's input paths are the
      // partitions being replaced)
      merged.persist()
      try {
        val present = merged.select(part).distinct()
          .collect().map(_.getLong(0)).toSet
        write(merged)
        val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
        vacated.filterNot(present).foreach(v => fs.delete(new Path(s"$root/$part=$v"), true))
      } finally merged.unpersist()
    }
  }

  /** UPSERT a batch of vectors into an EXISTING persisted IVF+PQ index
    * with FROZEN quantizers — the ONE writer that maintains a built
    * index, for inserts and updates alike. `batch` carries (vec_id,
    * embedding) — the embeddings-table shape st16's ingest stream
    * projects. New vectors enter `codes/` through this until st16's
    * per-cell census says the quantizers have drifted, and only that
    * drift signal triggers [[buildIvfPqIndex]]'s full retrain+rebuild. A
    * batch id may already live in the index in a DIFFERENT cell (its
    * embedding changed), and that stale row must go. The old cells come
    * from the `ledger/` artifact (the id→cell map every build and
    * maintenance write keeps next to `codes/`), so locating them costs a
    * bucket-pruned ledger lookup — never a corpus-wide id scan; a new id
    * finds no old cell and costs only that lookup. Every step is bounded
    * by the BATCH, the cells it touches, and the ledger buckets its ids
    * hash to:
    *
    *  1. quantizers read FROZEN from the artifact ([[readIvfPqQuantizers]],
    *     two metadata-scale collects — retraining here would silently
    *     pair every previously written code with foreign codewords),
    *     ledger self-healed if absent ([[ensureLedger]] — pre-r20
    *     artifacts);
    *  2. the batch coded inline ([[codedBatch]] — the build's own
    *     kernels) after the finiteness guard;
    *  3. the batch's ledger BUCKETS gathered: ONE ≤ [[LedgerBuckets]]-row
    *     collect (constant-bounded);
    *  4. OLD cells looked up: the bucket partitions of `ledger/` read
    *     through explicit `b=N` paths, semi-joined against the batch's
    *     ids (batch-sized, AQE broadcasts it);
    *  5. the touched set gathered: new cells ∪ old cells, each flagged
    *     by whether a batch row lands in it, ONE ≤K-row collect
    *     (quantizer-bounded);
    *  6. the touched cell partitions rewritten ([[mergePartitions]]):
    *     anti-join drops every batch id wherever it lived — the stale
    *     row in a moved id's OLD cell included — and the fresh codes
    *     land in the NEW cells; an old cell no batch row lands in and
    *     left EMPTY is deleted outright (dynamic overwrite cannot
    *     truncate a partition it writes no rows for — stale-dir hazard,
    *     spec-pinned). An insert-only batch vacates no cell and skips
    *     that epilogue;
    *  7. the ledger merged the same way, without the epilogue.
    *
    * DELETE semantics fall out of the guard: an update to a
    * non-representable embedding (zero/NaN/±Inf) codes no row, so the
    * anti-join removes the id from codes AND ledger and nothing re-lands
    * — exactly what a frozen rebuild over the post-update corpus serves,
    * the F6-quarantine shape.
    *
    * Redelivery contract: cell assignment is deterministic under frozen
    * quantizers, so a redelivered batch lands every id in the cell the
    * first landing chose and the anti-join replaces its row exactly
    * (content-idempotent, spec-pinned). Intra-batch id uniqueness is the
    * CALLER's obligation (r19 advice): two rows sharing a vec_id within
    * ONE batch both survive the union — there is no order column to
    * arbitrate a winner, so the operator refuses to pick one silently;
    * dedupe upstream (d1's digest discipline) before landing a batch.
    *
    * Crash-consistency contract (the reference's idempotent
    * partition-granular overwrite — `pnp-cleanerLambda.py:116` — applied
    * to the ANN artifact): dynamic overwrite stages files and commits by
    * per-partition delete+rename, so a crash BEFORE commit leaves every
    * old partition intact, and re-running the same upsert then lands the
    * identical content. A crash INSIDE the commit window can leave a
    * touched partition deleted-but-not-renamed — and a re-run does NOT
    * resurrect that partition's prior rows (it only re-lands the
    * batch's). That is an acceptable contract precisely because `codes/`
    * is DERIVED data: the raw corpus remains the source of truth, and
    * the repair is the frozen recode ([[recodeIvfPqIndex]] — no
    * retraining; quantizer artifacts are never touched by maintenance,
    * so concurrent probes keep resolving throughout). A zone that needs
    * crash-EVIDENT state instead pairs the artifact with ExportJob's
    * manifest discipline. The `codes/` and `ledger/` writes commit
    * SEPARATELY (codes first): a crash between them leaves the ledger
    * behind the codes, and a later upsert reading that stale map could
    * miss a moved id's true partition — so the repair after ANY
    * mid-maintenance crash is [[writeLedgerFromCodes]] (artifact-bounded,
    * no retraining) before the next maintenance call; a zone needing the
    * two commits atomic pairs them with a manifest, same discipline as
    * above. The vacated-dir deletes run AFTER the codes commit — a crash
    * between them leaves stale dirs that the SAME upsert re-landed
    * (content-idempotent) removes, because the still-stale ledger keeps
    * their cells in the touched set.
    *
    * Returns the touched cell ids (old ∪ new), the maintainer's cost
    * surface. At 100 TB: |batch| kernel work + (touched cells' code
    * rows, each cell ~4 bytes/vector of n/K vectors, read + rewritten) +
    * (batch buckets' ledger rows) — the corpus artifact is never scanned,
    * and the raw corpus never opened at all, while a full rebuild costs
    * the corpus scan PLUS quantizer retraining.
    */
  def upsertIvfPqIndex(spark: SparkSession, indexDir: String,
      batch: DataFrame): Seq[Long] = {
    val (cents, book) = readIvfPqQuantizers(spark, indexDir)
    ensureLedger(spark, indexDir)
    // PRE-guard ids: a guard-rejected update must still delete its stale
    // row, so the anti-joins and the ledger lookup run on every batch id.
    // localCheckpoint, NOT persist: the ids and the coded batch feed the
    // touched-cells gather and BOTH merge writes, and the codes commit
    // ends in a refreshByPath that invalidates — and lazily RE-EXECUTES —
    // any cached plan whose lineage reads the artifact. A batch derived
    // from the index itself (the natural "re-land / move the ids this
    // query surfaced" shape, and exactly what the maintenance specs feed)
    // would then re-read partitions the commit just replaced or the
    // vacated-dir epilogue deleted; truncating the lineage pins the batch
    // to its pre-write evaluation instead. Eager, so the assignment
    // kernels run exactly once.
    val ids = batch.select("vec_id").distinct().localCheckpoint()
    val d = codedBatch(batch, cents, book).localCheckpoint()
    val buckets = ids.select(ledgerBucket(col("vec_id")).as("b"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val ledgerRoot = s"$indexDir/ledger"
    val bucketDirs = existingPartitions(spark, ledgerRoot, "b", buckets)
    val oldCells =
      if (bucketDirs.isEmpty)
        spark.range(0).select(col("id").as("cell"))
      else spark.read.option("basePath", ledgerRoot)
        .parquet(bucketDirs: _*)
        .join(ids, Seq("vec_id"), "left_semi")
        .select(col("cell").cast("long").as("cell"))
    val cells = d.select(col("cell"), lit(true).as("lands"))
      .unionByName(oldCells.select(col("cell"), lit(false).as("lands")))
      .groupBy("cell").agg(max("lands"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).sortBy(_._1)
    val touched = cells.map(_._1).toSeq
    val vacated = cells.collect { case (c, false) => c }.toSeq
    if (touched.nonEmpty) {
      val codesRoot = s"$indexDir/codes"
      mergePartitions(spark, codesRoot, "cell",
        existingPartitions(spark, codesRoot, "cell", touched), ids,
        d.select(("vec_id" +: (0 until PqM).map(m => s"c$m") :+ "cell").map(col): _*),
        vacated)
      mergePartitions(spark, ledgerRoot, "b", bucketDirs, ids,
        d.select(col("vec_id"), col("cell"), ledgerBucket(col("vec_id")).as("b")))
    }
    touched
  }
}
