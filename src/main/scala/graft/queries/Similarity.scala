package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{BoundedMemo, Tables}
import graft.functions.{PqNearest, TopCells, TopKAgg, VectorLsh}
import graft.functions.VectorOps.dot

/** Approximate-nearest-neighbor search over the embedding column
  * (training-data-pipeline extension; `Array[Float]` embeddings as a
  * first-class column type).
  *
  * Two paths:
  *  - brute-force cosine top-k (the exactness baseline): queries are
  *    broadcast against the corpus, cost O(|Q| * n) — right answer, and at
  *    100 TB still viable for small |Q| because the corpus never shuffles;
  *  - random-hyperplane LSH buckets (the scale path): each vector is reduced
  *    to a small bucket id by sign-of-dot-product against fixed pseudo-random
  *    hyperplanes, search touches only the query's bucket. The hyperplanes
  *    are derived from md5 (graft.functions.TextHash) so the DuckDB oracle
  *    reproduces them exactly.
  *
  * Dot products run through the native `graft_dot` Catalyst expression
  * (graft.functions.DotProduct) — a primitive codegen loop with the same
  * left-to-right summation order as a sequential fold, so DuckDB oracles
  * built on sequential sums agree bit-for-bit.
  */
object Similarity {

  private val Dim = VectorLsh.Dim
  private val NumQueries = 20 // vec_id < 20 are the query set
  private val TopK = 5

  private def asDouble(c: String): Column =
    expr(s"transform($c, x -> CAST(x AS DOUBLE))")

  /** Exact cosine top-k for each query vector (vec_id < 20), excluding self.
    * The query side is tiny and broadcast; ranking uses row_number with an
    * id tie-break so results are deterministic.
    */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id").as("id"), asDouble("embedding").as("v"))
    graft.operators.VectorSearch
      .cosineTopK(e.filter(col("id") < NumQueries), e, TopK)
      .orderBy("query_id", "rank")
  }

  val bruteForceTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 4) AS cos
       |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |SELECT query_id, rank, neighbor_id, cos
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |      FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** LSH-bucketed ANN: candidates are restricted to the query's hyperplane
    * bucket, then ranked by exact cosine — the plan that survives scale-up
    * (bucket join instead of cross product). Bucketing lives in
    * graft.functions.VectorLsh, shared with the d6 embedding dedup.
    */
  def lshBucketTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id").as("id"), asDouble("embedding").as("v"))
      .withColumn("bucket", VectorLsh.bucketCol)
    graft.operators.VectorSearch
      .cosineTopKBucketed(e.filter(col("id") < NumQueries), e, TopK)
      .orderBy("query_id", "rank")
  }

  val lshBucketTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm,
       |    ${VectorLsh.bucketSql} AS bucket
       |  FROM e),
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.bucket AS bucket, c.vec_id AS neighbor_id,
       |    round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 4) AS cos
       |  FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |SELECT query_id, bucket, rank, neighbor_id, cos
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |      FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** Per-label centroid similarity: mean vector per label, then cosine
    * between label centroids — the "cluster summary" shape (grouped vector
    * aggregation via element-wise avg over posexploded dims).
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("label"), posexplode(asDouble("embedding")).as(Seq("d", "x")))
    val cent = e.groupBy("label", "d").agg(avg("x").as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("s"))
      .select(col("label"), expr("transform(s, e -> e.m)").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val a = cent.select(col("label").as("l1"), col("v").as("v1"), col("norm").as("n1"))
    val b = cent.select(col("label").as("l2"), col("v").as("v2"), col("norm").as("n2"))
    a.join(b, col("l1") < col("l2"))
      .withColumn("cos", round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      .select("l1", "l2", "cos")
      .orderBy("l1", "l2")
  }

  val labelCentroidsSql: String =
    s"""WITH ex AS (
       |  SELECT label, d, CAST(embedding[d] AS DOUBLE) AS x
       |  FROM embeddings, generate_series(1, $Dim) t(d)),
       |cent AS (
       |  SELECT label, array_agg(m ORDER BY d) AS v
       |  FROM (SELECT label, d, avg(x) AS m FROM ex GROUP BY 1, 2)
       |  GROUP BY label),
       |n AS (
       |  SELECT label, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM cent)
       |SELECT a.label AS l1, b.label AS l2,
       |  round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) AS cos
       |FROM n a JOIN n b ON a.label < b.label
       |ORDER BY l1, l2""".stripMargin

  // ------------------------------------------------------------------ n4

  private[queries] val NumCells = 8 // IVF coarse-quantizer size
  private val NumProbe = 2 // cells searched per query
  private val LloydIters = 2 // assign→mean refinement rounds over the seeds
  private val QuantScale = 1000000L // fixed-point scale for exact mean sums

  /** IVF-bucketed ANN — the second scale path next to n2's LSH: an inverted
    * file over a coarse quantizer. Centroids start as SEED VECTORS (vec_id
    * < NumCells) and are refined by [[LloydIters]] k-means rounds
    * (assign-to-nearest, recompute cell means). Measured honestly in
    * AnnRecallSpec: on the iid-random sf fixture the refinement moves
    * recall@5 only 0.64→0.65 (nprobe=2) — iid vectors in 64d have no
    * cluster structure for Lloyd to recover, and recall is pinned near
    * the probed-volume fraction whatever the centroids — while on a
    * CLUSTERED fixture (the realistic embedding shape) the refined
    * quantizer beats raw seeds by a wide, spec-pinned margin.
    *
    * The means are INTEGER-EXACT so the oracle stays exact: each element is
    * first quantized to a 1e-6 fixed-point BIGINT, summed (integer sums are
    * associative — partition order cannot change them, unlike float sums),
    * and divided back once, so both engines materialize bit-identical
    * centroid doubles and every downstream cosine stays on the established
    * rounded-cosine determinism contract (4 dp + id tie-breaks, as
    * n1/n2/d6). This is the same trick as t16's integer-exact threshold —
    * floating-point aggregation is the one operation order can perturb, so
    * it is the one operation the plan refuses to do in floats.
    *
    * Centroids live as driver-side LITERALS between rounds (K·Dim doubles
    * — metadata, not data): assignment is an inline codegen'd argmax in
    * the corpus scan's own projection, so a round costs one (cell,
    * dim)-keyed aggregate (K·Dim rows out after map-side combine, then
    * collected and divided back with the oracle's exact double ops) and
    * ZERO per-vector shuffles. The earlier distributed formulation ran a
    * crossJoin-assign + unique-key groupBy + corpus re-join per round —
    * ~10 sub-second stages whose floors dominated at fixture scale and two
    * full n-row shuffles per round at any scale. The corpus is scanned
    * once per round plus once for the inverted-list build — never
    * self-joined; candidate sets shrink by ~n/K per cell, and at scale K
    * grows with sqrt(n) while the probe-side joins stay broadcast.
    */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTopK(spark, dir, NumProbe)

  /** Driver-side centroid snapshot between Lloyd rounds: cid, vector, norm.
    * The whole table is ≤K rows of K·Dim doubles (8·64 here; a √n schedule
    * at x100 is 80·64) — metadata-scale, the same class as CleanJob's
    * partition-key gather, NOT a data collect.
    */
  private[queries] final case class Centroid(cid: Long, cv: Array[Double], cnorm: Double)

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
  private[queries] def cellExpr(cents: Seq[Centroid], v: Column, norm: Column): Column =
    TopCells.cellsCol(cents.map(c => (c.cid, c.cv, c.cnorm)), 1, v, norm)
      .getItem(0)

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

  /** Seed centroids: the vec_id < numCells vectors, collected with their
    * executor-computed norms (bit-exact — no recomputation).
    */
  private[queries] def seedCentroids(e: DataFrame, numCells: Int): Seq[Centroid] =
    e.filter(col("vec_id") < numCells)
      .select(col("vec_id"), col("v"), col("norm"))
      .collect()
      .toSeq
      .map(r => Centroid(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_.cid)

  /** One Lloyd round: integer-exact per-cell means of the assigned
    * vectors. Distributed work is a single (cell, dim)-keyed aggregate —
    * K·Dim rows out after map-side combine — collected and divided back on
    * the driver with the IDENTICAL double ops the SQL twin runs
    * (sx.toDouble / (cnt.toDouble · scale)), so the refined centroids stay
    * bit-identical to the oracle's. A cell that lost every member keeps
    * its previous centroid.
    */
  private[queries] def lloydRoundLiteral(e: DataFrame, cents: Seq[Centroid]): Seq[Centroid] = {
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

  /** The [[LloydIters]]-refined quantizer as a driver-side centroid list:
    * seeds, then assign→mean rounds, each one distributed aggregate + one
    * K·Dim-row collect.
    */
  private def refinedCentroids(e: DataFrame, numCells: Int,
      lloydIters: Int): Seq[Centroid] =
    (1 to lloydIters).foldLeft(seedCentroids(e, numCells))(
      (c, _) => lloydRoundLiteral(e, c))

  /** [[refinedCentroids]] memoized per (session, corpus dir, K, rounds) —
    * the Dedup.sigsFor discipline: n4, d11 and n7's index build all
    * cluster the SAME corpus on the SAME schedule, and a Verify/Bench run
    * invokes them back to back, so the Lloyd rounds (each a full-corpus
    * aggregate + a K·Dim-row collect) run once per session instead of once
    * per consumer. The memo entry is K·Dim doubles of driver-side metadata
    * — centroids, never data. ScaleStress clears it alongside Dedup's
    * memos so scaling curves stay cold-timed. Keys carry the session's
    * UUID, not the session object — values are plain doubles, so a
    * stopped session leaves nothing retained but a short string.
    */
  /** r16 memo hygiene (r15 verdict item 2): the memos here are
    * LRU-capped [[BoundedMemo]]s — keys are session-UUID strings (never
    * the session object) and values driver-side metadata, so unlike
    * Dedup's frame memos there is no lineage to unpersist and no live
    * session to test for; the cap alone stops unbounded growth across
    * (session, corpus, schedule) keys. Evicted = recomputed on re-visit.
    * (Declared before the memos: object vals initialize in order.)
    */
  private val MemoCapacity = 8

  private val quantMemo = new BoundedMemo[
    (String, String, Int, Int), Seq[Centroid]](MemoCapacity)

  /** Drop every memo here (one benchmark hook, mirroring
    * Dedup.clearMemos, so cold studies time every query cold).
    */
  private[graft] def clearQuantMemo(): Unit = {
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

  private def refinedCentroidsFor(spark: SparkSession, dir: String,
      e: DataFrame, numCells: Int, lloydIters: Int): Seq[Centroid] =
    quantMemo.getOrElseUpdate((sessionKey(spark), dir, numCells, lloydIters),
      refinedCentroids(e, numCells, lloydIters))

  /** nprobe is the recall/cost dial: each extra probed cell adds ~n/K
    * candidates per query. The oracle-checked entry runs [[NumProbe]] with
    * [[LloydIters]] refinement rounds; AnnRecallSpec measures recall@k at
    * several settings, including lloydIters = 0 (raw seeds) against the
    * refined quantizer on a clustered fixture — the honest record of what
    * refinement buys: nothing on iid-random vectors (no structure to
    * recover), a large margin once the data has cluster structure.
    */
  def ivfTopK(spark: SparkSession, dir: String, nprobe: Int,
      lloydIters: Int = LloydIters, numCells: Int = NumCells): DataFrame = {
    val e0 = Tables(spark, dir).embeddings
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    // corpus-side work (Lloyd rounds, inverted-list assignment) is widened;
    // the query side stays on the raw scan so its vec_id filter pushes down
    val e = widen(e0)
    val cents = refinedCentroidsFor(spark, dir, e, numCells, lloydIters)

    // inverted lists: each vector's nearest refined centroid, inline — the
    // corpus scan CARRIES v/norm through, so the old re-join with e (a full
    // n-row shuffle) is gone too
    val assign = e
      .withColumn("cell", cellExpr(cents, col("v"), col("norm")))
      .select(col("vec_id"), col("v").as("v2"), col("norm").as("n2"), col("cell"))

    // probe plan: each query's nprobe nearest cells, the same in-row
    // TopCells kernel with take = nprobe — (pcos DESC, cid ASC), the old
    // window order, no per-query window shuffle
    val q = e0.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("v1"), col("norm").as("n1"))
    val probe = q.select(col("query_id"),
        explode(TopCells.cellsCol(
          cents.map(c => (c.cid, c.cv, c.cnorm)), nprobe,
          col("v1"), col("n1"))).as("cell"))
      .select(col("query_id"), col("cell"))

    val scored = assign.join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"), col("cos"))
      .orderBy("query_id", "rank")
  }

  /** One SQL assignment CTE against the given centroid CTE — the twin of
    * [[assignCells]], reused by every Lloyd round and the final build.
    */
  private def assignCteSql(name: String, centCte: String,
      src: String = "n"): String =
    s"""$name AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT n.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        round(list_dot_product(n.v, c.cv) / (n.norm * c.cnorm), 4) DESC,
       |        c.cid) AS arn
       |    FROM $src n CROSS JOIN $centCte c)
       |  WHERE arn = 1)""".stripMargin

  /** The Lloyd-round CTEs (twin of [[lloydRound]]): fixed-point BIGINT
    * sums per (cell, dim) — exact under any aggregation order — divided
    * back once, empty cells keeping the prior centroid via LEFT JOIN.
    */
  private def lloydCtesSql(r: Int): String =
    s"""${assignCteSql(s"lassign$r", s"cent${r - 1}")},
       |sums$r AS (
       |  SELECT a.cell, t.i AS pos,
       |    sum(CAST(round(n.v[t.i] * $QuantScale) AS BIGINT)) AS sx,
       |    count(*) AS cnt
       |  FROM lassign$r a JOIN n USING (vec_id)
       |    CROSS JOIN generate_series(1, $Dim) t(i)
       |  GROUP BY 1, 2),
       |means$r AS (
       |  SELECT cell, list(CAST(sx AS DOUBLE) / (cnt * $QuantScale.0) ORDER BY pos) AS ncv
       |  FROM sums$r GROUP BY cell),
       |cent$r AS (
       |  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnorm
       |  FROM (SELECT p.cid, coalesce(m.ncv, p.cv) AS cv
       |        FROM cent${r - 1} p LEFT JOIN means$r m ON m.cell = p.cid))""".stripMargin

  /** Lloyd-refined cell assignment (vec_id, cell) — the coarse-quantizer
    * product n4's inverted lists are built from, exposed so d11's semantic
    * dedup shares the SAME quantizer (one clustering, two consumers, and
    * the two operators partition the corpus identically).
    */
  private[queries] def semanticCells(spark: SparkSession, dir: String,
      numCells: Int = NumCells, lloydIters: Int = LloydIters): DataFrame =
    semanticCellsFull(spark, dir, numCells, lloydIters)
      .select("vec_id", "cell")

  /** As [[semanticCells]] but carrying (v, norm) through the inline
    * assignment projection — a consumer that needs the vectors next to the
    * cells (d11's within-cell pairing) reads them off the SAME scan instead
    * of re-joining the corpus by vec_id (which was a full n-row shuffle).
    */
  private[queries] def semanticCellsFull(spark: SparkSession, dir: String,
      numCells: Int = NumCells, lloydIters: Int = LloydIters): DataFrame = {
    val e = widen(Tables(spark, dir).embeddings
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v")))))
    val cents = refinedCentroidsFor(spark, dir, e, numCells, lloydIters)
    e.withColumn("cell", cellExpr(cents, col("v"), col("norm")))
  }

  /** The whole-corpus `e` CTE every oracle chain opens with. */
  private def eCteSql: String =
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)""".stripMargin

  /** The coarse-quantizer chain AFTER `e` (n → cent0..L → assign) —
    * [[cellsCteSqlFor]] prefixes the whole-corpus `e`; n16's oracle
    * prefixes a BASE-corpus `e` instead, so the identical training text
    * runs over the pre-append corpus only.
    */
  private def cellsBodyCtesFor(numCells: Int): String =
    s"""n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e),
       |cent0 AS (
       |  SELECT vec_id AS cid, v AS cv, norm AS cnorm FROM n
       |  WHERE vec_id < $numCells),
       |${(1 to LloydIters).map(lloydCtesSql).mkString(",\n")},
       |${assignCteSql("assign", s"cent$LloydIters")}""".stripMargin

  /** Shared oracle CTE chain `e → n → cent0..centL → assign` — the SQL twin
    * of [[semanticCells]]; [[ivfTopKSql]] and d11's oracle both build on it
    * so the quantizer can never drift between the two queries' oracles.
    */
  private[queries] def cellsCteSqlFor(numCells: Int): String =
    s"""WITH $eCteSql,
       |${cellsBodyCtesFor(numCells)}""".stripMargin

  private[queries] val cellsCteSql: String = cellsCteSqlFor(NumCells)

  /** n4's SQL twin at an arbitrary quantizer size — the scale study runs
    * the same √n K schedule as d11's, so the oracle must too.
    */
  def ivfTopKSqlFor(numCells: Int): String =
    s"""${cellsCteSqlFor(numCells)},
       |q AS (
       |  SELECT vec_id AS query_id, v AS v1, norm AS n1 FROM n
       |  WHERE vec_id < $NumQueries),
       |probe AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        round(list_dot_product(q.v1, c.cv) / (q.n1 * c.cnorm), 4) DESC,
       |        c.cid) AS prn
       |    FROM q CROSS JOIN cent$LloydIters c)
       |  WHERE prn <= $NumProbe),
       |scored AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id, a.cell,
       |    round(list_dot_product(q.v1, n.v) / (q.n1 * n.norm), 4) AS cos
       |  FROM probe p
       |    JOIN q ON q.query_id = p.query_id
       |    JOIN assign a ON a.cell = p.cell
       |    JOIN n ON n.vec_id = a.vec_id
       |  WHERE a.vec_id <> q.query_id)
       |SELECT query_id, rank, neighbor_id, cell, cos
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |      FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  val ivfTopKSql: String = ivfTopKSqlFor(NumCells)

  /** Symmetric per-vector INT8 quantization + reconstruction fidelity —
    * the memory-bound scale path for ANN: a 64-float vector (256 B) drops
    * to 64 bytes, shrinking shuffle payloads, executor cache footprint,
    * and broadcast sizes 4× before any indexing even starts. Per vector:
    * scale = 127/max|x|, q_i = round(x_i·127/amax), reported as the
    * quantized-sum checksum (pins the int vector itself, not just stats)
    * plus the round-trip MSE. Pure elementwise array expressions — single
    * scan, no shuffle except the output sort.
    *
    * Oracle parity: round() is half-away-from-zero on doubles in both
    * engines; the dequantized error recomputes from x inline (no index
    * arithmetic), so both engines evaluate the identical expression tree
    * left-to-right. Zero vectors (amax = 0) are dropped — they carry no
    * direction and would put 0/0 in every downstream cosine anyway.
    */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      // NOT isnan too: both engines call NaN greater than 0, so a vector
      // with one NaN element would pass the zero-vector guard and feed
      // NaN into the ANSI BIGINT cast (job abort) instead of dropping
      .filter(col("amax") > 0 && !isnan(col("amax")))
      .withColumn("qv",
        expr("transform(v, x -> CAST(round(x * 127.0 / amax, 0) AS BIGINT))"))
      .withColumn("errs",
        expr("transform(v, x -> pow(x - round(x * 127.0 / amax, 0) * amax / 127.0, 2))"))
    e.select(
      col("vec_id"),
      round(col("amax"), 6).as("amax"),
      expr("aggregate(qv, 0L, (a, x) -> a + x)").as("q_sum"),
      round(expr("aggregate(errs, CAST(0.0 AS DOUBLE), (a, x) -> a + x)") /
        lit(Dim.toDouble), 8).as("mse"))
      .orderBy("vec_id")
  }

  val quantizeSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |a AS (
       |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
       |  FROM e),
       |q AS (
       |  SELECT vec_id, amax,
       |    list_transform(v, x -> CAST(round(x * 127.0 / amax, 0) AS BIGINT)) AS qv,
       |    list_transform(v,
       |      x -> pow(x - round(x * 127.0 / amax, 0) * amax / 127.0, 2)) AS errs
       |  FROM a WHERE amax > 0 AND NOT isnan(amax))
       |SELECT vec_id, round(amax, 6) AS amax,
       |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
       |  round(list_sum(errs) / $Dim, 8) AS mse
       |FROM q ORDER BY vec_id""".stripMargin

  /** Stage-1 candidate pool per query for n6's quantized rescore. */
  val RescorePool = 20

  /** n6: two-stage quantized retrieval (SQ8 scan + exact rescore) — the
    * generic operator graft.operators.VectorSearch.quantizedRescoreTopK
    * bound to the embeddings table with the n1 query set, so the recall
    * spec can compare all three retrieval paths (exact n1, bucketed n2,
    * quantized-rescored n6) on identical inputs.
    */
  def quantizedRescoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id").as("id"), asDouble("embedding").as("v"))
    graft.operators.VectorSearch
      .quantizedRescoreTopK(e.filter(col("id") < NumQueries), e, TopK, RescorePool)
      .orderBy("query_id", "rank")
  }

  val quantizedRescoreTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |z AS (
       |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM e),
       |nz AS (SELECT * FROM z WHERE amax > 0 AND NOT isnan(amax)),
       |qz AS (
       |  SELECT vec_id, v, amax, nrm,
       |    list_transform(v, x -> CAST(round(x * 127.0 / amax, 0) AS BIGINT)) AS qv
       |  FROM nz),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(CAST(list_sum(list_transform(generate_series(1, $Dim),
       |        i -> q.qv[i] * c.qv[i])) AS DOUBLE)
       |      * q.amax * c.amax / 16129.0 / (q.nrm * c.nrm), 4) AS qcos
       |  FROM qz q JOIN qz c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |cand AS (
       |  SELECT query_id, neighbor_id, qcos FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS crank
       |    FROM s)
       |  WHERE crank <= $RescorePool),
       |r AS (
       |  SELECT cand.query_id, cand.neighbor_id, cand.qcos,
       |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cos
       |  FROM cand
       |    JOIN nz q ON q.vec_id = cand.query_id
       |    JOIN nz c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, rank, neighbor_id, cos, qcos FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM r)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** Mean recall@[[TopK]] of an approximate ANN result against the exact
    * baseline: |approx ∩ exact|/|exact| over all queries. A real ANN
    * surface reports recall next to latency — n2/n4 hash-matching their
    * own definitions says nothing about how much of the TRUE top-k the
    * bucketing keeps; AnnRecallSpec asserts floors on this number.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): Double = {
    val key = Seq("query_id", "neighbor_id")
    val hits = exact.select(key.map(col): _*)
      .join(approx.select(key.map(col): _*), key, "left_semi")
      .count().toDouble
    hits / exact.count().toDouble
  }

  // ------------------------------------------------------------------ n7

  /** n7: the IVF index PERSISTED AS PHYSICAL LAYOUT — build once, probe
    * many. [[ivfTopK]] recomputes quantizer + inverted lists per query;
    * a production corpus builds them once and serves every probe from
    * disk. The index is two parquet artifacts:
    *
    *  - `centroids.parquet` — K rows of (cid, cv, cnorm), metadata-scale;
    *  - `cells/` — the corpus (vec_id, v, norm) Hive-PARTITIONED BY CELL.
    *
    * Partitioning by cell turns probe-time cell selection into PARTITION
    * PRUNING: the probe's `cell IN (...)` predicate reaches the file
    * index, so a probe over nprobe·|Q| distinct cells READS ONLY THOSE
    * DIRECTORIES — at the √n schedule (K ≈ 2,200 cells at 500M vectors),
    * a 20-query probe touches ~40/2200 ≈ 2% of the corpus bytes, and no
    * compute (not even the scan) happens on the rest. IvfIndexSpec proves
    * the pruning behaviorally: a poisoned unprobed cell directory never
    * fails a pruned probe. Scoring is identical to n4 (same refined
    * centroids round-tripped exactly through parquet doubles, same
    * rounded-cosine ranking), so n7 shares n4's oracle — the index can
    * never drift from the from-scratch computation. The registry twin
    * builds on every call, so its Bench entry times build + probe; the
    * "probe many" half is [[probeIvfIndex]] against a built dir.
    */
  def ivfIndexTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = indexDirFor(spark, "ivf_index", dir)
    // build returns the centroids it just wrote (doubles round-trip parquet
    // exactly), so the in-process build→probe path skips the read-back job;
    // a standalone probe ([[probeIvfIndex]]) still reads them from the index
    val cents = buildIvfIndex(spark, dir, idx)
    probeWithCents(spark, dir, idx, cents, NumProbe)
  }

  /** Root under which the REGISTRY TWINS place their index artifacts.
    * [[ivfIndexTopK]]/[[ivfPqIndexTopK]]/[[ivfPqIndexRescoreTopK]] take
    * only a corpus dir (the `(SparkSession, String) => DataFrame` registry
    * shape), so they must derive an indexDir — a HARNESS PLACEMENT, not an
    * index contract. The default is the checkout's work root
    * ([[graft.core.WorkDirs.Target]]); a deployment sets `graft.index.root`
    * once (runtime conf; any Hadoop FS scheme — the freshness probes and
    * writers resolve through the path's own FileSystem) and every derived
    * dir follows. The build/probe APIs take an explicit indexDir and never
    * consult this.
    */
  private def indexRoot(spark: SparkSession): String =
    spark.conf.get("graft.index.root", graft.core.WorkDirs.Target)

  /** Collision-proof artifact name for a corpus dir: the readable mangle
    * plus a short hash of the RAW string. The mangle alone maps distinct
    * corpora like `data/x_y` and `data_x/y` to one name — answers stayed
    * right (the n13 build memo's sibling-eviction rule forces a rebuild
    * when a different corpus claims the dir) but two such registry-twin
    * corpora alternating in a session would overwrite each other's
    * artifacts. `String.hashCode` is JLS-specified, so the derived name
    * is stable across JVMs and sessions.
    */
  private def mangledCorpusName(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9.]", "_") + f"_${dir.hashCode}%08x"

  /** A registry twin's index dir: `<indexRoot>/<family>/<corpus name>`.
    * Each twin owns its artifact family — ivf_index (n7), ivfpq_index
    * (n13/n15), ivfpq_append_index (n16: BASE-trained quantizers, so
    * sharing n13's dir would overwrite the artifact n13's build memo
    * serves) and ivfpq_upsert_index (n17: the demo MUTATES its index, so
    * sharing would hand n13/n15 a corpus the oracle they pin never saw).
    */
  private[queries] def indexDirFor(spark: SparkSession, family: String,
      dir: String): String =
    s"${indexRoot(spark)}/$family/${mangledCorpusName(dir)}"

  /** Build the index artifacts cold: train (or take the session's
    * memoized) quantizer, then write `centroids.parquet` and the
    * cell-partitioned `cells/`, overwriting whatever the dir held. It
    * returns the centroids it wrote. ScaleStress's curve times this build
    * as part of n7; SCALING.md's n7 study records its cost.
    */
  def buildIvfIndex(spark: SparkSession, dir: String, indexDir: String,
      numCells: Int = NumCells, lloydIters: Int = LloydIters): Seq[Centroid] = {
    import spark.implicits._
    val e = widen(Tables(spark, dir).embeddings
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v")))))
    val cents = refinedCentroidsFor(spark, dir, e, numCells, lloydIters)
    cents.map(c => (c.cid, c.cv.toSeq, c.cnorm)).toDF("cid", "cv", "cnorm")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/centroids.parquet")
    e.withColumn("cell", cellExpr(cents, col("v"), col("norm")))
      .select(col("vec_id"), col("v"), col("norm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/cells")
    cents
  }

  /** Probe the persisted index: standalone — centroids come back from the
    * index, never recomputed; the corpus scan carries the probed-cells
    * predicate into the file index (PartitionFilters), so unprobed cell
    * directories are never opened.
    */
  def probeIvfIndex(spark: SparkSession, dir: String, indexDir: String,
      nprobe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/centroids.parquet")
      .collect().toSeq
      .map(r => Centroid(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_.cid)
    probeWithCents(spark, dir, indexDir, cents, nprobe)
  }

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
  private def probeWithCents(spark: SparkSession, dir: String,
      indexDir: String, cents: Seq[Centroid], nprobe: Int): DataFrame = {
    import spark.implicits._
    val probeRows = Tables(spark, dir).embeddings
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        explode(TopCells.cellsCol(
          cents.map(c => (c.cid, c.cv, c.cnorm)), nprobe,
          col("v"), col("norm"))).as("cell"),
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
    val scored = corpus.join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"), col("cos"))
      .orderBy("query_id", "rank")
  }

  /** n8: hard-negative mining — for each query vector, the TopK most
    * similar corpus vectors with a DIFFERENT label (the contrastive-
    * training negatives a retriever mines from itself). Operator:
    * `VectorSearch.hardNegatives`; the label predicate is the entire
    * join condition (a label mismatch implies an id mismatch).
    */
  def hardNegativesTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id").as("id"), asDouble("embedding").as("v"),
        col("label"))
    graft.operators.VectorSearch
      .hardNegatives(e.filter(col("id") < NumQueries), e, TopK)
      .orderBy("query_id", "rank")
  }

  val hardNegativesTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    c.label AS neighbor_label,
       |    round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 4) AS cos
       |  FROM n q JOIN n c ON q.label <> c.label
       |  WHERE q.vec_id < $NumQueries)
       |SELECT query_id, rank, neighbor_id, neighbor_label, cos
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |      FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ----------------------------------------------------------------- n9

  /** RRF constant (Cormack/Clarke/Buettcher SIGIR'09's c=60), per-leg pool
    * depth, and fused report size for the hybrid retrieval query.
    */
  val RrfC = 60
  val RrfPool = 20
  val RrfTopK = 10

  /** n9: HYBRID RETRIEVAL — each query arrives in two modalities (its
    * keyword form and its embedding form, the standard hybrid-search
    * setup), runs both retrieval legs, and fuses the two ranked lists by
    * reciprocal rank (graft.operators.RankFusion). The fixture pins the
    * query embeddings to vec_id = query_id of the t19 keyword queries;
    * the dense leg excludes the query's own vector (the query IS that
    * row), the lexical leg has no self to exclude (its query is a keyword
    * set, not a document).
    *
    * Scale shape: each leg's cost is its own already-measured query shape
    * (t19's matching-terms-only inverted probe, n1's broadcast-query
    * corpus scan — swap in n2/n4/n7's bucketed probes at corpus scale,
    * the operator only needs (query_id, doc_id, rank)); fusion itself
    * touches ≤ |Q|·pool·2 rows. The fused score is an exact BIGINT
    * fixed-point sum, so no float-summation-order noise can flip a rank
    * (see RankFusion's scaladoc).
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val qids = TextAnalysis.Bm25Queries.map(_._1)
    val lex = TextAnalysis.bm25Ranked(spark, dir, RrfPool)
      .select("query_id", "doc_id", "rank")
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id").as("id"), asDouble("embedding").as("v"))
    val den = graft.operators.VectorSearch
      .cosineTopK(e.filter(col("id").isin(qids: _*)), e, RrfPool)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.RankFusion.rrf(Seq(lex, den), RrfC, RrfTopK)
      .orderBy("query_id", "rank")
  }

  lazy val hybridRrfSql: String = {
    val qids = TextAnalysis.Bm25Queries.map(_._1).mkString(", ")
    val term = graft.operators.RankFusion.termSql(RrfC, "rank")
    s"""${TextAnalysis.bm25RankedSqlCte},
       |emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |nv AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM emb),
       |dscored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |    round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 4) AS cos
       |  FROM nv q JOIN nv c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id IN ($qids)),
       |dranked AS (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, doc_id) AS rank
       |  FROM dscored),
       |contrib AS (
       |  SELECT query_id, doc_id, $term AS term FROM ranked
       |  WHERE rank <= $RrfPool
       |  UNION ALL
       |  SELECT query_id, doc_id, $term AS term FROM dranked
       |  WHERE rank <= $RrfPool),
       |fused AS (
       |  SELECT query_id, doc_id, CAST(sum(term) AS BIGINT) AS rrf_e9
       |  FROM contrib GROUP BY query_id, doc_id)
       |SELECT query_id, rank, doc_id, rrf_e9
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY rrf_e9 DESC, doc_id) AS BIGINT) AS rank
       |      FROM fused)
       |WHERE rank <= $RrfTopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ----------------------------------------------------------- n10/n11

  /** Product-quantization schedule (Jégou et al., TPAMI 2011): [[Dim]]=64
    * splits into [[PqM]]=4 subspaces of [[PqSubDim]]=16 dims, each with a
    * [[PqK]]=16-codeword codebook refined by [[PqIters]] per-subspace
    * Lloyd rounds — a 256-byte float vector compresses to FOUR code bytes
    * (64×), vs SQ8's 4×. At 100 TB of vectors the codes table is ~1.6 TB:
    * the whole corpus's ADC scan reads codes only, never raw vectors.
    */
  private[queries] val PqM = 4
  private[queries] val PqSubDim: Int = Dim / PqM
  private[queries] val PqK = 16
  private val PqIters = 2

  /** Driver-side PQ codebooks: shared ascending codeword ids (the seed
    * vec_ids) and [m][code][i] sub-centroids — M·K·subDim doubles (4·16·16
    * = 1,024 here), metadata-scale like [[Centroid]] snapshots.
    */
  private[queries] final case class PqBook(
      cids: Array[Long], cbs: Array[Array[Array[Double]]])

  /** (vec_id, v) of the (vec_id, embedding) rows PQ can code: n5's
    * degenerate-vector guard extended to FINITENESS — zero/NaN amax
    * vectors carry no direction, and an ±Inf component (abs-max = +Inf)
    * would feed non-finite squared distances into the assignment and ADC
    * kernels just as NaN would. NaN and +Inf are excluded explicitly
    * (amax is an abs-max, so those are the only non-finite values),
    * applied identically in every PQ oracle CTE. The one guard shared by
    * training ([[pqCorpus]]) and every coding pass ([[codedBatch]]).
    */
  private def pqVectors(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      .filter(col("amax") > 0 && !isnan(col("amax")) &&
        col("amax") =!= lit(Double.PositiveInfinity))
      .drop("amax")

  /** The corpus PQ operates on: the embeddings table through [[pqVectors]]. */
  private[queries] def pqCorpus(spark: SparkSession, dir: String): DataFrame =
    pqVectors(Tables(spark, dir).embeddings)

  /** (vec_id, m, sv) sub-vector explosion — M narrow rows per vector, a
    * projection over the scan (no shuffle). Two selects for the same
    * ExtractGenerator reason as [[lloydRoundLiteral]].
    */
  private[queries] def pqSub(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(expr(s"sequence(0L, ${PqM - 1}L)")).as("m"), col("v"))
      .select(col("vec_id"), col("m"),
        expr(s"slice(v, CAST(m * $PqSubDim + 1 AS INT), $PqSubDim)").as("sv"))

  /** Seed codebooks: sub-slices of the vec_id < [[PqK]] vectors — one
    * K·Dim-double collect, the [[seedCentroids]] class of driver
    * materialization (bounded by the CONSTANT PqK, never the corpus).
    */
  private[queries] def pqSeeds(e: DataFrame): PqBook = {
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
  private[queries] def pqRound(sub: DataFrame, book: PqBook): PqBook = {
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

  /** The refined codebooks, memoized per (session, corpus) like
    * [[refinedCentroidsFor]] — n10 and n11 train on the same corpus and a
    * Verify/Bench run invokes them back to back.
    */
  private[queries] def pqBookFor(spark: SparkSession, dir: String, e: DataFrame): PqBook =
    pqMemo.getOrElseUpdate((sessionKey(spark), dir, PqM, PqK, PqIters), {
      val sub = pqSub(e)
      (1 to PqIters).foldLeft(pqSeeds(e))((b, _) => pqRound(sub, b))
    })

  /** The codebooks as a (m, cid, cv) frame — M·K rows of driver metadata,
    * broadcast wherever a plan needs codewords next to data.
    */
  private def pqBookDf(spark: SparkSession, book: PqBook): DataFrame = {
    import spark.implicits._
    val rows = for {
      m <- 0 until PqM
      ci <- book.cids.indices
    } yield (m.toLong, book.cids(ci), book.cbs(m)(ci).toSeq)
    rows.toDF("m", "cid", "cv")
  }

  /** n10: PQ ENCODE — every vector's [[PqM]] codeword assignments plus the
    * per-subspace reconstruction MSE (pins the codebook VALUES, not just
    * the code ids: a drifted centroid moves sub_mse even when assignments
    * survive). Scale shape: one corpus scan, assignment inline in the
    * projection (PqNearest), MSE via a broadcast join with the M·K-row
    * codebook frame — no shuffle except the output sort.
    */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val e = widen(pqCorpus(spark, dir))
    val book = pqBookFor(spark, dir, e)
    val codes = pqSub(e)
      .withColumn("code", PqNearest.codeCol(book.cids, book.cbs, col("m"), col("sv")))
    val cb = pqBookDf(spark, book)
    // constant-size dim side (M·K rows): hint, not AQE, per the audit rule
    codes.join(broadcast(cb),
        codes("m") === cb("m") && codes("code") === cb("cid"))
      .select(codes("vec_id"), codes("m"), col("code"),
        round(expr(
          """aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)),
            |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin) /
          lit(PqSubDim.toDouble), 8).as("sub_mse"))
      .orderBy("vec_id", "m")
  }

  /** Shared oracle CTE chain `e → nz → sub → pcent0..pcentL → codes` — the
    * SQL twin of [[pqBookFor]] + encode: seeds are the vec_id < PqK
    * sub-slices, each Lloyd round re-assigns via the same round-4
    * (2·dot − ‖cv‖²) score and rebuilds means from fixed-point BIGINT sums
    * (exact under any aggregation order), empty codewords keeping the
    * prior sub-centroid.
    */
  private def pqAssignCteSql(name: String, centCte: String,
      src: String = "sub"): String =
    s"""$name AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.cid AS code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        round(2 * list_dot_product(s.sv, c.cv) - c.csq, 4) DESC,
       |        c.cid) AS arn
       |    FROM $src s JOIN $centCte c ON c.m = s.m)
       |  WHERE arn = 1)""".stripMargin

  private def pqLloydCtesSql(r: Int): String =
    s"""${pqAssignCteSql(s"passign$r", s"pcent${r - 1}")},
       |psums$r AS (
       |  SELECT a.m, a.code, t.i AS pos,
       |    sum(CAST(round(s.sv[t.i] * $QuantScale) AS BIGINT)) AS sx,
       |    count(*) AS cnt
       |  FROM passign$r a
       |    JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
       |    CROSS JOIN generate_series(1, $PqSubDim) t(i)
       |  GROUP BY 1, 2, 3),
       |pmeans$r AS (
       |  SELECT m, code,
       |    list(CAST(sx AS DOUBLE) / (cnt * $QuantScale.0) ORDER BY pos) AS ncv
       |  FROM psums$r GROUP BY 1, 2),
       |pcent$r AS (
       |  SELECT m, cid, cv, list_sum(list_transform(cv, x -> x * x)) AS csq
       |  FROM (SELECT p.m, p.cid, coalesce(mn.ncv, p.cv) AS cv
       |        FROM pcent${r - 1} p
       |          LEFT JOIN pmeans$r mn ON mn.m = p.m AND mn.code = p.cid))""".stripMargin

  /** The PQ CTE chain AFTER `e` (nz → sub → pcent0..L → codes) — n10/n11
    * prefix it with their own `e`; n12 appends it to the IVF chain
    * (cellsCteSqlFor), whose `e` is the identical expression.
    */
  private def pqBodyCtes: String =
    s"""nz AS (
       |  SELECT vec_id, v FROM (
       |    SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
       |    FROM e)
       |  WHERE amax > 0 AND NOT isnan(amax) AND amax <> CAST('inf' AS DOUBLE)),
       |sub AS (
       |  SELECT vec_id, t.m,
       |    list_slice(v, CAST(t.m * $PqSubDim + 1 AS INT),
       |      CAST((t.m + 1) * $PqSubDim AS INT)) AS sv
       |  FROM nz, generate_series(0, ${PqM - 1}) t(m)),
       |pcent0 AS (
       |  SELECT m, vec_id AS cid, sv AS cv,
       |    list_sum(list_transform(sv, x -> x * x)) AS csq
       |  FROM sub WHERE vec_id < $PqK),
       |${(1 to PqIters).map(pqLloydCtesSql).mkString(",\n")},
       |${pqAssignCteSql("codes", s"pcent$PqIters")}""".stripMargin

  private def pqCteSql: String =
    s"""WITH $eCteSql,
       |$pqBodyCtes""".stripMargin

  val pqCodesSql: String =
    s"""$pqCteSql
       |SELECT c.vec_id, c.m, c.code,
       |  round(list_sum(list_transform(generate_series(1, $PqSubDim),
       |    i -> (s.sv[i] - ct.cv[i]) * (s.sv[i] - ct.cv[i]))) / $PqSubDim, 8)
       |    AS sub_mse
       |FROM codes c
       |  JOIN sub s ON s.vec_id = c.vec_id AND s.m = c.m
       |  JOIN pcent$PqIters ct ON ct.m = c.m AND ct.cid = c.code
       |ORDER BY c.vec_id, c.m""".stripMargin

  /** n11: ADC TOP-K — asymmetric-distance retrieval over the PQ codes
    * (the query stays un-quantized; Jégou et al. §IV). Per query, a
    * lookup table of fixed-point squared L2 distances to every codeword
    * (|Q|·M·K entries) is built ONCE, and each corpus vector scores as
    * FOUR integer table lookups over its code bytes — exact under any
    * order, so ranking needs no float tolerance. Scale shape: the corpus
    * side reads ONLY the codes projection (64× smaller than raw vectors);
    * the LUT rides a broadcast (|Q|-bounded by the same vec_id <
    * NumQueries contract as n1's query set); and ranking goes through the
    * native graft_topk heap aggregate, so the only exchange carries ≤
    * TopK pairs per (query, input partition) — a row_number window here
    * would shuffle ALL n·|Q| candidate rows instead. Scores rank by the
    * exact fixed-point sum (negated — the heap orders score DESC), ids
    * break ties ascending, identical to the oracle's (afp, neighbor_id).
    *
    * Quality contract (PqSpec's clustered fixture): ADC retrieves from
    * the RIGHT CLUSTER (blob agreement 1.0) but cannot rank faithfully
    * WITHIN one — a cluster's members share near-identical codes — so a
    * consumer needing exact-id top-k chains an ADC pool into an exact
    * rescore, n6's two-stage pattern.
    */
  /** The M per-subspace code columns c0..cM-1 for a (vec_id, v, ...) frame
    * — one PqNearest virtual call per subspace, all riding the scan's
    * projection (shared by n11's flat scan and n12's per-cell layout).
    */
  private def pqCodeCols(book: PqBook): Seq[org.apache.spark.sql.Column] =
    (0 until PqM).map { m =>
      PqNearest.codeCol(book.cids, book.cbs, lit(m.toLong),
        expr(s"slice(v, ${m * PqSubDim + 1}, $PqSubDim)")).as(s"c$m")
    }

  /** Per-query ADC lookup tables, wide: (query_id, l0..lM-1), each l a
    * cid→fixed-point-distance map over one subspace's codewords. |Q|·M·K
    * entries by the vec_id < NumQueries contract — broadcast wherever the
    * codes scan needs them (shared by n11 and n12).
    */
  private def pqLutW(spark: SparkSession, dir: String, book: PqBook): DataFrame = {
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
  private def adcAfp: org.apache.spark.sql.Column =
    (0 until PqM).map(m => expr(s"element_at(l$m, c$m)")).reduce(_ + _)

  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = widen(pqCorpus(spark, dir))
    val book = pqBookFor(spark, dir, e)
    val codes = e.select(col("vec_id") +: pqCodeCols(book): _*)
    val lutW = pqLutW(spark, dir, book)
    val scored = codes.crossJoin(broadcast(lutW))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("afp", adcAfp)
    // afp ≤ M·round(maxSubDist·1e6) stays far below 2^53, so the negated
    // double the heap ranks on is EXACT and -score round-trips back to afp
    val shim = org.apache.spark.sql.graft.ColumnShim
    val tk = shim.column(TopKAgg(TopK,
      shim.expression((-col("afp")).cast("double")),
      shim.expression(col("vec_id"))).toAggregateExpression())
    scored.groupBy("query_id").agg(tk.as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"),
        round((-col("col.score")) / lit(QuantScale.toDouble), 4).as("adist"))
      .orderBy("query_id", "rank")
  }

  val pqAdcTopKSql: String =
    s"""$pqCteSql,
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.m, c.cid,
       |    CAST(round(list_sum(list_transform(generate_series(1, $PqSubDim),
       |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) * $QuantScale)
       |      AS BIGINT) AS fp
       |  FROM sub q JOIN pcent$PqIters c ON c.m = q.m
       |  WHERE q.vec_id < $NumQueries),
       |scored AS (
       |  SELECT l.query_id, x.vec_id AS neighbor_id, CAST(sum(l.fp) AS BIGINT) AS afp
       |  FROM codes x
       |    JOIN lut l ON l.m = x.m AND l.cid = x.code AND l.query_id <> x.vec_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, neighbor_id,
       |  round(CAST(afp AS DOUBLE) / $QuantScale.0, 4) AS adist
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY afp, neighbor_id) AS BIGINT) AS rank
       |      FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** The shared n12/n14 stage-1: cell-pruned, ADC-scored candidates —
    * (query_id, vec_id, cell, afp). One corpus projection assigns coarse
    * cell + M fine codes (two inline kernels, no join between
    * quantizers); the probe relation and per-query LUTs ride |Q|-bounded
    * broadcasts; afp is the exact fixed-point ADC distance.
    */
  private def ivfPqScored(spark: SparkSession, dir: String,
      numCells: Int): DataFrame = {
    // coarse quantizer: IDENTICAL construction to semanticCellsFull so
    // the memoized centroids are shared, not retrained; numCells follows
    // the same √n scale schedule as n4/d11 (ScaleStress passes d11Cells)
    val eAll = widen(Tables(spark, dir).embeddings
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v")))))
    val cents = refinedCentroidsFor(spark, dir, eAll, numCells, LloydIters)
    val e = widen(pqCorpus(spark, dir))
    val book = pqBookFor(spark, dir, e)
    // one projection: cell + M codes off the same scan
    val cands = e
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("cell", cellExpr(cents, col("v"), col("norm")))
      .select(col("vec_id") +: col("cell") +: pqCodeCols(book): _*)
    val q = pqCorpus(spark, dir).filter(col("vec_id") < NumQueries)
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id").as("query_id"), col("v").as("v1"), col("norm").as("n1"))
    val probe = q.select(col("query_id"),
      explode(TopCells.cellsCol(
        cents.map(c => (c.cid, c.cv, c.cnorm)), NumProbe,
        col("v1"), col("n1"))).as("cell"))
    val lutW = pqLutW(spark, dir, book)
    cands.join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lutW), Seq("query_id"))
      .withColumn("afp", adcAfp)
  }

  /** n12: IVF+PQ — the FAISS-style production index layout (Jégou et al.
    * §V: coarse Voronoi cells × fine product codes). The coarse quantizer
    * is THE SAME memoized Lloyd clustering n4/d11/t22 share (one
    * clustering, four consumers); the fine quantizer is n10's codebook.
    * Each corpus vector reduces to (cell, M code ids) in ONE scan
    * projection — two inline kernels (TopCells, PqNearest), no join
    * between the quantizers' outputs — and a probe touches only the
    * nprobe cells' candidates, scored by n11's ADC lookups (the shared
    * [[ivfPqScored]] stage).
    *
    * Scale shape: at 100 TB the candidates frame is the n7 move applied
    * to codes — Hive-partition the (cell, codes) table by cell and the
    * probe's cell filter becomes partition pruning over a corpus stored
    * at ~4 bytes/vector (vs 256 B raw): nprobe/K of 1.6 TB instead of
    * nprobe/K of 100 TB. Here the candidate set after the probe join is
    * nprobe·|Q|/K of the corpus, ranked by the same window-free
    * exact-integer order as n11 via the candidate-bounded window n4 uses
    * (candidates are cell-pruned, not the whole corpus, so the window's
    * exchange carries the pruned set — the n4-audited shape).
    */
  def ivfPqTopK(spark: SparkSession, dir: String,
      numCells: Int = NumCells): DataFrame = {
    val scored = ivfPqScored(spark, dir, numCells)
    val w = Window.partitionBy("query_id").orderBy(asc("afp"), asc("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"),
        round(col("afp").cast("double") / lit(QuantScale.toDouble), 4).as("adist"))
      .orderBy("query_id", "rank")
  }

  val ivfPqTopKSql: String =
    s"""${cellsCteSqlFor(NumCells)},
       |$pqBodyCtes,
       |q12 AS (
       |  SELECT vec_id AS query_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS n1
       |  FROM nz WHERE vec_id < $NumQueries),
       |probe12 AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        round(list_dot_product(q.v, c.cv) / (q.n1 * c.cnorm), 4) DESC,
       |        c.cid) AS prn
       |    FROM q12 q CROSS JOIN cent$LloydIters c)
       |  WHERE prn <= $NumProbe),
       |lut12 AS (
       |  SELECT q.vec_id AS query_id, c.m, c.cid,
       |    CAST(round(list_sum(list_transform(generate_series(1, $PqSubDim),
       |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) * $QuantScale)
       |      AS BIGINT) AS fp
       |  FROM sub q JOIN pcent$PqIters c ON c.m = q.m
       |  WHERE q.vec_id < $NumQueries),
       |scored12 AS (
       |  SELECT l.query_id, x.vec_id AS neighbor_id, a.cell,
       |    CAST(sum(l.fp) AS BIGINT) AS afp
       |  FROM codes x
       |    JOIN assign a ON a.vec_id = x.vec_id
       |    JOIN probe12 p ON p.cell = a.cell
       |    JOIN lut12 l ON l.query_id = p.query_id AND l.m = x.m
       |      AND l.cid = x.code AND l.query_id <> x.vec_id
       |  GROUP BY 1, 2, 3)
       |SELECT query_id, rank, neighbor_id, cell,
       |  round(CAST(afp AS DOUBLE) / $QuantScale.0, 4) AS adist
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY afp, neighbor_id) AS BIGINT) AS rank
       |      FROM scored12)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ----------------------------------------------------------- n14

  /** n14: IVF+PQ + EXACT RESCORE — the PRODUCTION retrieval recipe the
    * PQ family's honest quality measurements dictate (PqSpec's clustered
    * fixture: 4 code bytes retrieve the RIGHT CLUSTER with agreement 1.0
    * but rank WITHIN it at ~0.27 exact-id recall — cluster members share
    * near-identical codes). The fix is n6's two-stage pattern wired onto
    * n12's cell-pruned candidates:
    *
    *  1. stage-1 POOL: the shared [[ivfPqScored]] stage keeps the
    *     [[PqRescorePool]] best ADC candidates per query (exact-integer afp
    *     order, the candidate-bounded window shape n4/n12 audit);
    *  2. stage-2 RESCORE: the pool — ≤ |Q|·[[PqRescorePool]] rows by the
    *     vec_id < NumQueries contract — broadcasts against ONE raw-vector
    *     scan to fetch neighbor vectors, queries join as a second
    *     |Q|-bounded broadcast, and exact rounded cosine re-ranks.
    *
    * Scale shape: the expensive side stays quantized — the corpus is
    * scanned as codes (4 longs/vector, cell-pruned), and RAW vectors are
    * touched only for the pooled ids (a broadcast-pruned point fetch; on
    * a 100 TB corpus that scan reads |Q|·pool rows' worth of row groups,
    * and a serving tier swaps in a key-value fetch behind the same join).
    * PqSpec pins the payoff: exact-id recall on the clustered fixture
    * goes from ~0.27 (pure ADC rank) to ~1.0 after rescore.
    *
    * Pool sizing: n6 rescores an SQ8 scan (8 bits/dim — quantized order
    * already near-faithful) at pool = 4·k. At 4 BYTES/VECTOR the pool
    * must instead cover the query's whole cluster, because within-cluster
    * ADC order is quantization noise (PqSpec measures pool=4·k at 0.64
    * recall on the blob fixture — the pool IS the recall dial, FAISS's
    * IndexRefine k_factor). [[PqRescorePool]] = 64 ≈ the fixture's
    * cluster occupancy; production picks pool ≈ expected occupancy of one
    * probed cell (n/K, a measured quantity — pr2's census), and the
    * rescore cost stays |Q|·pool raw-vector fetches either way.
    */
  val PqRescorePool = 64

  /** The shared n14/n15 stage-2: pool the `pool` best ADC candidates per
    * query from `scored` (any cell-pruned ADC stage carrying
    * (query_id, vec_id, afp) — n14 passes the session-memoized
    * [[ivfPqScored]], n15 the persisted index's [[probeIvfPqScored]]),
    * fetch raw vectors for the pool ONLY, and re-rank by exact cosine.
    */
  private def rescoredTopK(spark: SparkSession, dir: String,
      scored: DataFrame, pool: Int): DataFrame = {
    val wPool = Window.partitionBy("query_id").orderBy(asc("afp"), asc("vec_id"))
    val pooled = scored
      .withColumn("crank", row_number().over(wPool))
      .filter(col("crank") <= pool)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("afp").cast("double") / lit(QuantScale.toDouble), 4).as("adist"))
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
    val q = pqCorpus(spark, dir).filter(col("vec_id") < NumQueries)
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
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

  /** `pool` is the recall dial (see the sizing note above) for PROGRAMMATIC
    * callers; [[ivfPqRescoreTopKSql]] pins [[PqRescorePool]], so only the
    * default-pool call is oracle-matched — a registry entry must bind
    * pool = PqRescorePool (both registered twins, n14/n15, do).
    */
  def ivfPqRescoreTopK(spark: SparkSession, dir: String,
      numCells: Int = NumCells, pool: Int = PqRescorePool): DataFrame =
    rescoredTopK(spark, dir, ivfPqScored(spark, dir, numCells), pool)

  /** n14's oracle: n12's CTE chain (coarse cells + PQ codes + ADC
    * scores), pooled at [[PqRescorePool]] by the same exact-integer afp
    * order, then exact-cosine re-ranked — the two-stage composition in
    * SQL, sharing every sub-CTE with the n10–n12 oracles so the stages
    * can never drift from the queries they compose.
    */
  val ivfPqRescoreTopKSql: String =
    s"""${cellsCteSqlFor(NumCells)},
       |$pqBodyCtes,
       |q12 AS (
       |  SELECT vec_id AS query_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS n1
       |  FROM nz WHERE vec_id < $NumQueries),
       |probe12 AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        round(list_dot_product(q.v, c.cv) / (q.n1 * c.cnorm), 4) DESC,
       |        c.cid) AS prn
       |    FROM q12 q CROSS JOIN cent$LloydIters c)
       |  WHERE prn <= $NumProbe),
       |lut12 AS (
       |  SELECT q.vec_id AS query_id, c.m, c.cid,
       |    CAST(round(list_sum(list_transform(generate_series(1, $PqSubDim),
       |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) * $QuantScale)
       |      AS BIGINT) AS fp
       |  FROM sub q JOIN pcent$PqIters c ON c.m = q.m
       |  WHERE q.vec_id < $NumQueries),
       |scored12 AS (
       |  SELECT l.query_id, x.vec_id AS neighbor_id,
       |    CAST(sum(l.fp) AS BIGINT) AS afp
       |  FROM codes x
       |    JOIN assign a ON a.vec_id = x.vec_id
       |    JOIN probe12 p ON p.cell = a.cell
       |    JOIN lut12 l ON l.query_id = p.query_id AND l.m = x.m
       |      AND l.cid = x.code AND l.query_id <> x.vec_id
       |  GROUP BY 1, 2),
       |pool14 AS (
       |  SELECT query_id, neighbor_id,
       |    round(CAST(afp AS DOUBLE) / $QuantScale.0, 4) AS adist
       |  FROM (SELECT *, row_number() OVER (
       |          PARTITION BY query_id ORDER BY afp, neighbor_id) AS crank
       |        FROM scored12)
       |  WHERE crank <= $PqRescorePool),
       |nrm14 AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM nz),
       |r14 AS (
       |  SELECT p.query_id, p.neighbor_id, p.adist,
       |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS cos
       |  FROM pool14 p
       |    JOIN nrm14 q ON q.vec_id = p.query_id
       |    JOIN nrm14 c ON c.vec_id = p.neighbor_id)
       |SELECT query_id, rank, neighbor_id, cos, adist FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM r14)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ----------------------------------------------------------- n13

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
    * cells, ≤ |Q|·nprobe rows of driver metadata (see probeIvfPqIndex).
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
        val v = buildIvfPqIndexCold(spark, dir, indexDir, numCells,
          trainKey = dir, keep = lit(true))
        pqIndexMemo.put(key, (ivfPqArtifactSig(spark, indexDir), v))
        v
    }
  }

  /** The one cold build: train both quantizers on the embeddings rows
    * `keep` selects (memoized under `trainKey`), persist them, then code
    * the same rows into `codes/` + `ledger/` through [[writeCodes]]. n13
    * trains on the whole corpus under its own dir key; n16's base build
    * ([[buildIvfPqBaseIndex]]) on the BASE split under its own namespace.
    */
  private def buildIvfPqIndexCold(spark: SparkSession, dir: String,
      indexDir: String, numCells: Int, trainKey: String,
      keep: Column): (Seq[Centroid], PqBook) = {
    import spark.implicits._
    val rows = Tables(spark, dir).embeddings.filter(keep)
    val eAll = widen(rows
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v")))))
    val cents = refinedCentroidsFor(spark, trainKey, eAll, numCells, LloydIters)
    cents.map(c => (c.cid, c.cv.toSeq, c.cnorm)).toDF("cid", "cv", "cnorm")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/centroids.parquet")
    val book = pqBookFor(spark, trainKey, widen(pqVectors(rows)))
    pqBookDf(spark, book).coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/codebooks.parquet")
    writeCodes(spark, indexDir, rows, cents, book)
    (cents, book)
  }

  /** The persisted-index twin of [[ivfPqScored]]: the cell-pruned,
    * ADC-scored candidate stage (query_id, vec_id, cell, afp) with every
    * input read FROM THE INDEX — quantizers come back as two
    * metadata-scale collects (the n7 centroid-read class), probe cells
    * collect to ≤ |Q|·nprobe driver rows serving both the
    * partition-pruning predicate and the broadcast probe relation, and
    * the scoring job reads ONLY the probed cells' code partitions — the
    * raw corpus is never opened. [[probeIvfPqIndex]] (n13) ranks this
    * frame directly; [[ivfPqIndexRescoreTopK]] (n15) pools it and
    * exact-rescores.
    */
  /** The frozen quantizers read back from a persisted IVF+PQ index — two
    * metadata-scale collects (the n7 centroid-read class: K·Dim +
    * M·K·subDim doubles, never data). Shared by the disk probe (n13/n15)
    * and the maintenance and recode writers, which must code batches
    * under EXACTLY the artifact's quantizers.
    */
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

  private[queries] def readIvfPqQuantizers(spark: SparkSession,
      indexDir: String): (Seq[Centroid], PqBook) = {
    val sig = graft.core.FsUtil.filesSig(spark,
      Seq(s"$indexDir/centroids.parquet", s"$indexDir/codebooks.parquet"))
    quantReadMemo.getOrElseUpdate((sessionKey(spark), indexDir, sig),
      readIvfPqQuantizersCold(spark, indexDir))
  }

  private def readIvfPqQuantizersCold(spark: SparkSession,
      indexDir: String): (Seq[Centroid], PqBook) = {
    val cents = spark.read.parquet(s"$indexDir/centroids.parquet")
      .collect().toSeq
      .map(r => Centroid(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_.cid)
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
      val probeRows = pqCorpus(spark, dir).filter(col("vec_id") < NumQueries)
        .withColumn("norm", sqrt(dot(col("v"), col("v"))))
        .select(col("vec_id").as("query_id"),
          explode(TopCells.cellsCol(
            cents.map(c => (c.cid, c.cv, c.cnorm)), nprobe,
            col("v"), col("norm"))).as("cell"))
        .collect()
      (probeRows.toSeq.map(r => (r.getLong(0), r.getLong(1))),
        probeRows.map(_.getLong(1)).distinct.toSeq)
    })
    val probe = probePairs.toDF("query_id", "cell")
    val lutW = pqLutW(spark, dir, book)
    val corpus = spark.read.parquet(s"$indexDir/codes")
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isin(probedCells: _*))
    corpus.join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lutW), Seq("query_id"))
      .withColumn("afp", adcAfp)
  }

  /** Probe the persisted IVF+PQ index ([[probeIvfPqScored]]) and rank —
    * n13's serving read path.
    */
  def probeIvfPqIndex(spark: SparkSession, dir: String, indexDir: String,
      nprobe: Int): DataFrame = {
    val scored = probeIvfPqScored(spark, dir, indexDir, nprobe)
    val w = Window.partitionBy("query_id").orderBy(asc("afp"), asc("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"),
        round(col("afp").cast("double") / lit(QuantScale.toDouble), 4).as("adist"))
      .orderBy("query_id", "rank")
  }

  /** n13: the IVF+PQ index PERSISTED — build once, probe from disk; must
    * reproduce n12's from-scratch result exactly (shared oracle).
    */
  def ivfPqIndexTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = indexDirFor(spark, "ivfpq_index", dir)
    buildIvfPqIndex(spark, dir, idx)
    probeIvfPqIndex(spark, dir, idx, NumProbe)
  }

  /** n15: the SERVING composition — the persisted index's partition-pruned
    * disk probe (n13's [[probeIvfPqScored]]: quantizers and codes read
    * from the artifact, only the probed cells' partitions opened) feeding
    * n14's exact-rescore stage ([[rescoredTopK]]: pool the best
    * [[PqRescorePool]] ADC candidates per query, point-fetch their raw
    * vectors through the pool broadcast, re-rank by exact cosine). This is
    * the query path a deployment actually runs — index built offline once,
    * every query paying (pruned code partitions) + (|Q|·pool raw fetches).
    *
    * Shares n14's oracle verbatim: doubles round-trip parquet exactly and
    * codes are integers, so the disk probe's afp equals the from-scratch
    * stage's bit-for-bit (n13's proof), and the rescore is deterministic
    * in its pool — the composition can never drift from the two stages it
    * composes. IvfPqIndexSpec extends the poisoned-partition proof through
    * the rescore: a corrupted unprobed cell directory never fails n15.
    */
  def ivfPqIndexRescoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = indexDirFor(spark, "ivfpq_index", dir)
    buildIvfPqIndex(spark, dir, idx)
    rescoreProbedIndex(spark, dir, idx)
  }

  /** n15's probe+rescore against an EXPLICIT index dir — the deployment
    * shape (the registry twin derives its dir then delegates here; a
    * serving tier passes its own artifact root, nprobe, and pool — the
    * recall dial, sized per the n14 note; only the default pool is
    * oracle-matched).
    */
  def rescoreProbedIndex(spark: SparkSession, dir: String,
      indexDir: String, nprobe: Int = NumProbe,
      pool: Int = PqRescorePool): DataFrame =
    rescoredTopK(spark, dir,
      probeIvfPqScored(spark, dir, indexDir, nprobe), pool)

  // ----------------------------------------------------------- n16

  /** n16's corpus split for the oracle-gated append demonstration: the
    * DELTA batch is every vector with vec_id ≡ [[AppendRem]] (mod
    * [[AppendMod]]) — ~10% of the corpus — and the BASE is the rest. The
    * split is mod-based (not hashed) so the oracle spells it verbatim.
    */
  private[queries] val AppendMod = 10L
  private[queries] val AppendRem = 7L

  /** Memo-key namespace for the BASE-split quantizers: quantMemo/pqMemo
    * key on the corpus STRING (the frame rides alongside), so training on
    * a filtered frame under the raw `dir` key would poison the
    * full-corpus entries every other consumer shares.
    */
  private def appendBaseKey(dir: String): String =
    s"$dir#append_base_${AppendMod}_$AppendRem"

  private def appendBasePredicate: Column =
    col("vec_id") % AppendMod =!= AppendRem

  /** The delta batch of [[ivfPqAppendTopK]]'s split, in the
    * embeddings-table shape [[upsertIvfPqIndex]] ingests.
    */
  private[graft] def appendDelta(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .filter(col("vec_id") % AppendMod === AppendRem)
      .select("vec_id", "embedding")

  /** Build the persisted IVF+PQ index over the BASE split only — the
    * pre-append deployment state: quantizers trained on, and `codes/`
    * covering, the corpus minus the delta. [[buildIvfPqIndexCold]] with
    * the split as its row filter and training namespace.
    */
  private[graft] def buildIvfPqBaseIndex(spark: SparkSession, dir: String,
      indexDir: String, numCells: Int = NumCells): Unit =
    buildIvfPqIndexCold(spark, dir, indexDir, numCells,
      trainKey = appendBaseKey(dir), keep = appendBasePredicate)

  // -------------------------------------------------- the id→cell ledger

  /** Hash-bucket count for the `ledger/` artifact — a CONSTANT, so a
    * batch's bucket set collects to ≤ this many driver rows whatever the
    * corpus size. 16 suffices because the ledger is only ever read
    * bucket-PRUNED by a batch's ids; more buckets would only shrink the
    * per-lookup read at the cost of more tiny files at fixture scale.
    * At 100 TB a deployment sizes this like any Hive bucket count
    * (√corpus-ish); the operators take the count from the constant at
    * write AND read, so they can never disagree.
    */
  private[queries] val LedgerBuckets = 16L

  /** Metadata signature of every file of the persisted IVF+PQ artifact
    * ([[graft.core.FsUtil.filesSig]]: path, length and mtime through the
    * indexDir's OWN FileSystem, listings only, no jobs) — n13's build memo
    * serves a hit only while it is unchanged.
    */
  private def ivfPqArtifactSig(spark: SparkSession, indexDir: String): String =
    graft.core.FsUtil.filesSig(spark,
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
    if (!graft.core.FsUtil.allExist(spark, Seq(s"$indexDir/ledger")))
      writeLedgerFromCodes(spark, indexDir)

  /** A (vec_id, embedding) batch coded under FROZEN quantizers: the
    * [[pqVectors]] finiteness guard, then cell + M codes in one
    * projection — the build's own TopCells/PqNearest kernels. Shared by
    * the cold build, the frozen recode and upsert (n16/n17).
    */
  private def codedBatch(batch: DataFrame, cents: Seq[Centroid],
      book: PqBook): DataFrame =
    widen(pqVectors(batch))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
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
  private[graft] def recodeIvfPqIndex(spark: SparkSession, indexDir: String,
      corpus: DataFrame): Unit = {
    val (cents, book) = readIvfPqQuantizers(spark, indexDir)
    writeCodes(spark, indexDir, corpus, cents, book)
  }

  /** Rewrite ONLY the `touched` cell partitions of `codes/`: their
    * existing rows — read through explicit `cell=N` paths, so untouched
    * directories are never listed, let alone opened — anti-joined against
    * `ids` (batch-sized, AQE broadcasts it), unioned with the freshly
    * coded `d` rows, written back via dynamic partition overwrite (input
    * paths are the cell dirs, the output path their parent, so the
    * self-overwrite guard stays quiet). ONE FileSystem handle for the
    * whole batch of existence probes, resolved through the root's own
    * scheme like every FsUtil probe. The write is repartitioned by cell,
    * so every rewritten cell is ONE file: without the shuffle a touched
    * cell keeps its existing files' count and each call adds up to one
    * more file per batch partition, so repeated maintenance would pile
    * up small files.
    *
    * `vacated` are the touched cells no `d` row lands in (old cells of
    * moved or guard-rejected ids). Dynamic overwrite only replaces
    * partitions PRESENT in the written frame, so such a cell whose every
    * row left would keep its stale directory: when `vacated` is non-empty
    * the merged frame is pinned, the ≤K cells that still receive rows are
    * collected (quantizer-bounded metadata), and the vacated-and-absent
    * dirs are deleted after the commit. An insert-only batch vacates
    * nothing and skips all of it.
    */
  private def rewriteTouchedCells(spark: SparkSession, indexDir: String,
      touched: Seq[Long], vacated: Seq[Long], ids: DataFrame,
      d: DataFrame): Unit = {
    val codesRoot = s"$indexDir/codes"
    val rootPath = new org.apache.hadoop.fs.Path(codesRoot)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val existingDirs = touched.map(c => s"$codesRoot/cell=$c")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    val cols = ("vec_id" +: (0 until PqM).map(m => s"c$m") :+ "cell")
      .map(col)
    val merged =
      if (existingDirs.isEmpty) d.select(cols: _*)
      else spark.read.option("basePath", codesRoot)
        .parquet(existingDirs: _*)
        .withColumn("cell", col("cell").cast("long"))
        .join(ids, Seq("vec_id"), "left_anti")
        .select(cols: _*)
        .unionByName(d.select(cols: _*))
    def write(df: DataFrame): Unit =
      df.repartition(col("cell")).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(codesRoot)
    if (vacated.isEmpty) write(merged)
    else {
      // pin the merged frame: the present-cells job and the write must
      // see ONE evaluation (the write's input paths are the partitions
      // being replaced)
      merged.persist()
      try {
        val present = merged.select("cell").distinct()
          .collect().map(_.getLong(0)).toSet
        write(merged)
        vacated.filterNot(present).foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$codesRoot/cell=$c"), true)
        }
      } finally merged.unpersist()
    }
  }

  /** Merge a batch into `ledger/`: the batch's existing bucket partitions
    * (`bucketDirs`, probed once by the caller) read back, rows for `ids`
    * dropped (so moved, re-landed and guard-rejected ids leave no stale
    * mapping), the fresh (vec_id, cell) pairs unioned in, dynamic
    * overwrite — the codes rewrite's own shape (one file per bucket) on
    * the 2-long ledger rows. A bucket emptied by a pure delete keeps its rows on disk (dynamic
    * overwrite cannot truncate an absent partition) — a DELIBERATE
    * asymmetry with the codes rewrite's vacated-cell epilogue, because
    * the two artifacts' stale rows differ in kind: a stale CODES row
    * changes probe answers, while a superfluous ledger row only ever
    * WIDENS a later upsert's touched set (its anti-join then no-ops) — so
    * the codes side pays a collect + dir deletes and the ledger side does
    * not.
    */
  private def mergeLedger(spark: SparkSession, indexDir: String,
      bucketDirs: Seq[String], ids: DataFrame, d: DataFrame): Unit = {
    val ledgerRoot = s"$indexDir/ledger"
    val fresh = d.select(col("vec_id"), col("cell"))
      .withColumn("b", ledgerBucket(col("vec_id")))
    val merged =
      if (bucketDirs.isEmpty) fresh
      else spark.read.option("basePath", ledgerRoot)
        .parquet(bucketDirs: _*)
        .withColumn("b", col("b").cast("long"))
        .join(ids, Seq("vec_id"), "left_anti")
        .select("vec_id", "cell", "b")
        .unionByName(fresh)
    merged.repartition(col("b")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("b")
      .parquet(ledgerRoot)
  }

  /** n16: INCREMENTAL INDEX MAINTENANCE — the persisted IVF+PQ index
    * built over the BASE split, the DELTA split landed under frozen
    * quantizers ([[upsertIvfPqIndex]] — its ledger lookup finds no old
    * cell for a new id, so an insert batch rewrites only its destination
    * cells), then probed exactly like n13. The twin composes the artifact
    * (base build + insert) on every call, so its Bench entry times
    * build + insert + probe.
    *
    * Oracle: n12's CTE chain over the UNION corpus with every quantizer
    * CTE pinned to the BASE corpus — with frozen quantizers,
    * insert-then-probe must reproduce rebuild-then-probe bit-for-bit
    * (codes are integers; the quantizer doubles round-trip parquet
    * exactly — n13's round-trip argument with training corpus ≠ coded
    * corpus). That equivalence is what makes online maintenance SAFE: a
    * maintained index can never drift from what a frozen-quantizer
    * rebuild would serve. IvfPqUpsertSpec pins the same claim on disk
    * for insert batches (insert == frozen recode, content-idempotent
    * re-land, untouched partitions byte-unchanged, a poisoned foreign
    * partition never read), and SCALING.md's SCALESTRESS_r19 record
    * measures insert cost tracking the DELTA while the frozen recode
    * tracks the corpus.
    */
  def ivfPqAppendTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = indexDirFor(spark, "ivfpq_append_index", dir)
    buildIvfPqBaseIndex(spark, dir, idx)
    upsertIvfPqIndex(spark, idx, appendDelta(spark, dir))
    probeIvfPqIndex(spark, dir, idx, NumProbe)
  }

  /** n16's oracle: the n12 chain re-pointed — `e` (feeding both quantizer
    * training chains, reused verbatim via [[cellsBodyCtesFor]] and
    * [[pqBodyCtes]]) is the BASE corpus; the assignment, codes, queries,
    * probe, and ADC scoring run over the UNION corpus (`eu` chain)
    * against the base-trained `cent*`/`pcent*` CTEs.
    */
  /** The frozen-quantizer probe chain over a served-corpus CTE `eu`,
    * against base-trained `cent*`/`pcent*` CTEs — shared VERBATIM by n16
    * (insert batch) and n17 (update batch): both twins' contract is
    * "maintenance under frozen quantizers serves exactly what a frozen
    * rebuild over the post-maintenance corpus serves", so both oracles
    * run this same text and differ only in `e` (the quantizer-training
    * corpus) and `eu` (the served corpus).
    */
  private def frozenProbeOverEuSql: String =
    s"""nu AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM eu),
       |${assignCteSql("assignu", s"cent$LloydIters", src = "nu")},
       |nzu AS (
       |  SELECT vec_id, v FROM (
       |    SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
       |    FROM eu)
       |  WHERE amax > 0 AND NOT isnan(amax) AND amax <> CAST('inf' AS DOUBLE)),
       |subu AS (
       |  SELECT vec_id, t.m,
       |    list_slice(v, CAST(t.m * $PqSubDim + 1 AS INT),
       |      CAST((t.m + 1) * $PqSubDim AS INT)) AS sv
       |  FROM nzu, generate_series(0, ${PqM - 1}) t(m)),
       |${pqAssignCteSql("codesu", s"pcent$PqIters", src = "subu")},
       |qu AS (
       |  SELECT vec_id AS query_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS n1
       |  FROM nzu WHERE vec_id < $NumQueries),
       |probeu AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        round(list_dot_product(q.v, c.cv) / (q.n1 * c.cnorm), 4) DESC,
       |        c.cid) AS prn
       |    FROM qu q CROSS JOIN cent$LloydIters c)
       |  WHERE prn <= $NumProbe),
       |lutu AS (
       |  SELECT q.vec_id AS query_id, c.m, c.cid,
       |    CAST(round(list_sum(list_transform(generate_series(1, $PqSubDim),
       |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) * $QuantScale)
       |      AS BIGINT) AS fp
       |  FROM subu q JOIN pcent$PqIters c ON c.m = q.m
       |  WHERE q.vec_id < $NumQueries),
       |scoredu AS (
       |  SELECT l.query_id, x.vec_id AS neighbor_id, a.cell,
       |    CAST(sum(l.fp) AS BIGINT) AS afp
       |  FROM codesu x
       |    JOIN assignu a ON a.vec_id = x.vec_id
       |    JOIN probeu p ON p.cell = a.cell
       |    JOIN lutu l ON l.query_id = p.query_id AND l.m = x.m
       |      AND l.cid = x.code AND l.query_id <> x.vec_id
       |  GROUP BY 1, 2, 3)
       |SELECT query_id, rank, neighbor_id, cell,
       |  round(CAST(afp AS DOUBLE) / $QuantScale.0, 4) AS adist
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY afp, neighbor_id) AS BIGINT) AS rank
       |      FROM scoredu)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  val ivfPqAppendTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE vec_id % $AppendMod <> $AppendRem),
       |${cellsBodyCtesFor(NumCells)},
       |$pqBodyCtes,
       |eu AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |$frozenProbeOverEuSql""".stripMargin

  // ----------------------------------------------------------- n17

  /** n17's demonstration split: the UPSERT batch re-embeds every vector
    * with vec_id ≡ [[UpsertRem]] (mod [[UpsertMod]]) — EXCLUDING the
    * query ids, which stay fixed so the probe side is identical on both
    * engines — to its NEGATION. Negating a vector flips its cosine to
    * every centroid, so the batch is all but guaranteed to change cells:
    * the case an insert batch never exercises and n17 exists for.
    * Mod-based (not hashed) and rem ≠ [[AppendRem]], so the oracle spells
    * it verbatim and the two demo splits never collide.
    */
  private[queries] val UpsertMod = 10L
  private[queries] val UpsertRem = 3L

  private def upsertPredicate: Column =
    col("vec_id") % UpsertMod === UpsertRem && col("vec_id") >= NumQueries

  /** The demo upsert batch in the embeddings-table shape
    * [[upsertIvfPqIndex]] ingests: the split's ids with NEGATED float
    * embeddings (float negation is a sign-bit flip — exact — so negating
    * before or after the double widening is bit-identical, and the
    * oracle's `-CAST(x AS DOUBLE)` matches).
    */
  private[graft] def upsertBatch(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .filter(upsertPredicate)
      .select(col("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"))

  /** The post-upsert corpus (original rows with the batch's replacing
    * them) — what a frozen rebuild after the upsert would code; the
    * equivalence arm IvfPqUpsertSpec recodes.
    */
  private[graft] def postUpsertCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .filter(!upsertPredicate)
      .select("vec_id", "embedding")
      .unionByName(upsertBatch(spark, dir))

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
    *  6. the touched cell partitions rewritten ([[rewriteTouchedCells]]):
    *     anti-join drops every batch id wherever it lived — the stale
    *     row in a moved id's OLD cell included — and the fresh codes
    *     land in the NEW cells; an old cell no batch row lands in and
    *     left EMPTY is deleted outright (dynamic overwrite cannot
    *     truncate a partition it writes no rows for — stale-dir hazard,
    *     spec-pinned). An insert-only batch vacates no cell and skips
    *     that epilogue;
    *  7. the ledger merged the same way ([[mergeLedger]]).
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
    val rootPath = new org.apache.hadoop.fs.Path(ledgerRoot)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val bucketDirs = buckets.map(b => s"$ledgerRoot/b=$b")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
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
      rewriteTouchedCells(spark, indexDir, touched, vacated, ids, d)
      mergeLedger(spark, indexDir, bucketDirs, ids, d)
    }
    touched
  }

  /** Kept only because the benchmark harness (`perfbench/`) calls it with
    * this exact signature: a delegate to
    * [[upsertIvfPqIndex]]`(spark, indexDir, delta)` that returns
    * `("upsert", touched)`. `corpus` is unused. The delegate is deleted
    * once the harness is switched to call [[upsertIvfPqIndex]] directly.
    */
  def maintainIvfPqIndex(spark: SparkSession, indexDir: String,
      delta: DataFrame, corpus: DataFrame): (String, Seq[Long]) =
    ("upsert", upsertIvfPqIndex(spark, indexDir, delta))

  /** n17: VECTOR UPDATE on the persisted IVF+PQ index — the full-corpus
    * index built, the negated split UPSERTED under frozen quantizers
    * ([[upsertIvfPqIndex]]: stale rows located through the ledger, old
    * and new cell partitions rewritten, emptied partitions deleted),
    * then probed exactly like n13. Like n16 the twin composes on every
    * call, so its Bench entry times build + upsert + probe.
    *
    * Oracle: n12's chain over the POST-UPSERT corpus with every
    * quantizer CTE pinned to the ORIGINAL corpus — with frozen
    * quantizers, upsert-then-probe must reproduce
    * rebuild-over-the-updated-corpus-then-probe bit-for-bit (the n16
    * round-trip argument with served corpus ≠ training corpus in the
    * other direction: training sees rows the serving corpus replaced).
    * That equivalence is what makes updates SAFE online: an upserted
    * index can never drift from what a frozen rebuild would serve, no
    * matter how many ids changed cells. IvfPqUpsertSpec pins the same
    * claim on disk (upsert == frozen recode byte-content-wise, moved ids
    * leave no stale row, emptied partitions leave no stale dir,
    * content-idempotent re-land, guard-rejects delete), and SCALING.md's
    * SCALESTRESS_r20 record measures cost tracking the batch's touched
    * cells against the recode's corpus.
    */
  def ivfPqUpsertTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = indexDirFor(spark, "ivfpq_upsert_index", dir)
    buildIvfPqIndexCold(spark, dir, idx, NumCells,
      trainKey = dir, keep = lit(true))
    upsertIvfPqIndex(spark, idx, upsertBatch(spark, dir))
    probeIvfPqIndex(spark, dir, idx, NumProbe)
  }

  /** n17's oracle: [[frozenProbeOverEuSql]] — n16's exact probe text —
    * with `e` (quantizer training) the ORIGINAL full corpus and `eu`
    * (the served corpus) the post-upsert one: the split's non-query ids
    * negated in place.
    */
  val ivfPqUpsertTopKSql: String =
    s"""WITH $eCteSql,
       |${cellsBodyCtesFor(NumCells)},
       |$pqBodyCtes,
       |eu AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id % $UpsertMod = $UpsertRem AND vec_id >= $NumQueries
       |      THEN list_transform(embedding, x -> -CAST(x AS DOUBLE))
       |      ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS v
       |  FROM embeddings),
       |$frozenProbeOverEuSql""".stripMargin

  /** Streaming cell assignment (st16's projection stage): the coarse
    * quantizer trains BATCH-side from the corpus dir (memoized — the same
    * centroids n4/d11/n12 share: index built offline, maintained online),
    * then rides the unbounded vector stream as a static inline projection
    * — per arriving vector one TopCells kernel call, no state, no join.
    */
  def assignCellsToStream(spark: SparkSession, dir: String,
      vecs: DataFrame, numCells: Int = NumCells): DataFrame = {
    val eAll = widen(Tables(spark, dir).embeddings
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v")))))
    val cents = refinedCentroidsFor(spark, dir, eAll, numCells, LloydIters)
    vecs.select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("cell", cellExpr(cents, col("v"), col("norm")))
      .select("vec_id", "cell")
  }

  /** st16's shared batch oracle: the per-cell census of the corpus under
    * the SAME quantizer CTE chain as n4/d11 — inverted-list sizes plus the
    * first vector id per cell.
    */
  val vectorCellCensusSql: String =
    s"""$cellsCteSql
       |SELECT cell, count(*) AS n_vectors, min(vec_id) AS first_vec_id
       |FROM assign GROUP BY cell ORDER BY cell""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n9_hybrid_rrf" -> (hybridRrf _),
    "n10_pq_codes" -> (pqCodes _),
    "n11_pq_adc_topk" -> (pqAdcTopK _),
    "n12_ivfpq_topk" -> ((s: SparkSession, d: String) => ivfPqTopK(s, d)),
    "n13_ivfpq_index_topk" -> (ivfPqIndexTopK _),
    "n14_ivfpq_rescore_topk" -> ((s: SparkSession, d: String) => ivfPqRescoreTopK(s, d)),
    "n15_ivfpq_index_rescore_topk" -> (ivfPqIndexRescoreTopK _),
    "n16_ivfpq_append_topk" -> (ivfPqAppendTopK _),
    "n17_ivfpq_upsert_topk" -> (ivfPqUpsertTopK _),
    "n7_ivf_index_topk" -> (ivfIndexTopK _),
    "n8_hard_negatives" -> (hardNegativesTopK _),
    "n5_quantize" -> (quantize _),
    "n1_brute_force_topk" -> (bruteForceTopK _),
    "n2_lsh_bucket_topk" -> (lshBucketTopK _),
    "n3_label_centroids" -> (labelCentroids _),
    "n4_ivf_topk" -> (ivfTopK _),
    "n6_quantized_rescore" -> (quantizedRescoreTopK _))

  val oracles: Map[String, String] = Map(
    "n9_hybrid_rrf" -> hybridRrfSql,
    "n10_pq_codes" -> pqCodesSql,
    "n11_pq_adc_topk" -> pqAdcTopKSql,
    "n12_ivfpq_topk" -> ivfPqTopKSql,
    // the persisted index must reproduce the from-scratch IVF+PQ exactly
    "n13_ivfpq_index_topk" -> ivfPqTopKSql,
    "n14_ivfpq_rescore_topk" -> ivfPqRescoreTopKSql,
    // the persisted probe reproduces the from-scratch ADC stage exactly
    // (n13's proof), so the composition shares n14's oracle verbatim
    "n15_ivfpq_index_rescore_topk" -> ivfPqRescoreTopKSql,
    // append-then-probe == frozen-quantizer rebuild-then-probe: n12's
    // chain over the union corpus, quantizer CTEs pinned to the base
    "n16_ivfpq_append_topk" -> ivfPqAppendTopKSql,
    // upsert-then-probe == frozen-quantizer rebuild over the POST-UPSERT
    // corpus: the same shared probe text, eu carrying the updated rows
    "n17_ivfpq_upsert_topk" -> ivfPqUpsertTopKSql,
    // the persisted index must reproduce the from-scratch IVF exactly
    "n7_ivf_index_topk" -> ivfTopKSql,
    "n8_hard_negatives" -> hardNegativesTopKSql,
    "n5_quantize" -> quantizeSql,
    "n1_brute_force_topk" -> bruteForceTopKSql,
    "n2_lsh_bucket_topk" -> lshBucketTopKSql,
    "n3_label_centroids" -> labelCentroidsSql,
    "n4_ivf_topk" -> ivfTopKSql,
    "n6_quantized_rescore" -> quantizedRescoreTopKSql)
}
