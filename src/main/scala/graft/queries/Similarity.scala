package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{PqNearest, TopKAgg, VectorLsh}
import graft.functions.VectorOps.dot
import graft.operators.VectorIndex
import graft.operators.VectorIndex.{asDouble, LloydIters, NumCells, NumProbe,
  NumQueries, PqIters, PqK, PqM, PqRescorePool, PqSubDim, QuantScale, TopK}

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

  /** IVF-bucketed ANN — the second scale path next to n2's LSH: an inverted
    * file over a coarse quantizer. Centroids start as SEED VECTORS (vec_id
    * < NumCells) and are refined by `LloydIters` k-means rounds
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
    * Training and assignment are graft.operators.VectorIndex's: one
    * (cell, dim)-keyed aggregate per round and zero per-vector shuffles.
    * The corpus is scanned once per round plus once for the inverted-list
    * build — never self-joined; candidate sets shrink by ~n/K per cell,
    * and at scale K grows with sqrt(n) while the probe-side joins stay
    * broadcast.
    *
    * nprobe is the recall/cost dial: each extra probed cell adds ~n/K
    * candidates per query. The oracle-checked entry runs `NumProbe` with
    * `LloydIters` refinement rounds; AnnRecallSpec measures recall@k at
    * several settings, including lloydIters = 0 (raw seeds) against the
    * refined quantizer on a clustered fixture — the honest record of what
    * refinement buys: nothing on iid-random vectors (no structure to
    * recover), a large margin once the data has cluster structure.
    */
  def ivfTopK(spark: SparkSession, dir: String, nprobe: Int = NumProbe,
      lloydIters: Int = LloydIters, numCells: Int = NumCells): DataFrame = {
    val c = VectorIndex.corpus(spark, dir)
    val (assigned, cents) = VectorIndex.assignedCorpus(c, numCells, lloydIters)
    // the query side stays on the raw scan so its vec_id filter pushes down
    val q = VectorIndex.normed(c.rows)
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("v1"), col("norm").as("n1"))
    val probe = q.select(col("query_id"),
      VectorIndex.probeCells(cents, nprobe, col("v1"), col("n1")).as("cell"))
    // inverted lists: the assigned corpus CARRIES v/norm through, so no
    // re-join with the corpus (a full n-row shuffle)
    VectorIndex.cosineRanked(assigned
      .select(col("vec_id"), col("v").as("v2"), col("norm").as("n2"), col("cell"))
      .join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(q), Seq("query_id")))
  }

  /** One SQL assignment CTE against the given centroid CTE — the twin of
    * [[graft.operators.VectorIndex.cellExpr]], reused by every Lloyd round
    * and the final build.
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

  /** The Lloyd-round CTEs (twin of VectorIndex's Lloyd round): fixed-point
    * BIGINT sums per (cell, dim) — exact under any aggregation order — divided
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
    * of [[graft.operators.VectorIndex.semanticCells]]; [[ivfTopKSql]] and d11's
    * oracle both build on it so the quantizer can never drift between the
    * two queries' oracles.
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
    * "probe many" half is [[graft.operators.VectorIndex.probeIvfIndex]] against a
    * built dir.
    */
  def ivfIndexTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = indexDirFor(spark, "ivf_index", dir)
    // build returns the centroids it just wrote (doubles round-trip parquet
    // exactly), so the in-process build→probe path skips the read-back job;
    // a standalone probe (VectorIndex.probeIvfIndex) still reads them from
    // the index
    val cents = VectorIndex.buildIvfIndex(spark, dir, idx)
    VectorIndex.probeWithCents(spark, dir, idx, cents, NumProbe)
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

  /** n10: PQ ENCODE — every vector's `PqM` codeword assignments plus the
    * per-subspace reconstruction MSE (pins the codebook VALUES, not just
    * the code ids: a drifted centroid moves sub_mse even when assignments
    * survive). Scale shape: one corpus scan, assignment inline in the
    * projection (PqNearest), MSE via a broadcast join with the M·K-row
    * codebook frame — no shuffle except the output sort.
    */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val (e, book) = VectorIndex.pqTrained(VectorIndex.corpus(spark, dir))
    val codes = VectorIndex.pqSub(e)
      .withColumn("code", PqNearest.codeCol(book.cids, book.cbs, col("m"), col("sv")))
    val cb = VectorIndex.pqBookDf(spark, book)
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
    * SQL twin of VectorIndex.pqTrained + encode: seeds are the vec_id < PqK
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
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val (e, book) = VectorIndex.pqTrained(VectorIndex.corpus(spark, dir))
    val codes = e.select(col("vec_id") +: VectorIndex.pqCodeCols(book): _*)
    val lutW = VectorIndex.pqLutW(spark, dir, book)
    val scored = codes.crossJoin(broadcast(lutW))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("afp", VectorIndex.adcAfp)
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

  /** n12: IVF+PQ — the FAISS-style production index layout (Jégou et al.
    * §V: coarse Voronoi cells × fine product codes). The coarse quantizer
    * is THE SAME memoized Lloyd clustering n4/d11/t22 share (one
    * clustering, four consumers); the fine quantizer is n10's codebook.
    * Each corpus vector reduces to (cell, M code ids) in ONE scan
    * projection — two inline kernels (TopCells, PqNearest), no join
    * between the quantizers' outputs — and a probe touches only the
    * nprobe cells' candidates, scored by n11's ADC lookups (the shared
    * VectorIndex.ivfPqScored stage).
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
    VectorIndex.adcRanked(VectorIndex.ivfPqScored(spark, dir, numCells))
  }

  /** The IVF+PQ probe CTEs over one served corpus — SQL twin of
    * VectorIndex's probe plan and LUTs: `q$s`, `probe$s` and `lut$s` from
    * the guarded vectors `nz` and sub-vectors `sub`, against the trained
    * `cent*`/`pcent*` CTEs. Shared by n12/n13, n14/n15 and n16/n17.
    */
  private def pqProbeCtesSql(s: String, nz: String, sub: String): String =
    s"""q$s AS (
       |  SELECT vec_id AS query_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS n1
       |  FROM $nz WHERE vec_id < $NumQueries),
       |probe$s AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        round(list_dot_product(q.v, c.cv) / (q.n1 * c.cnorm), 4) DESC,
       |        c.cid) AS prn
       |    FROM q$s q CROSS JOIN cent$LloydIters c)
       |  WHERE prn <= $NumProbe),
       |lut$s AS (
       |  SELECT q.vec_id AS query_id, c.m, c.cid,
       |    CAST(round(list_sum(list_transform(generate_series(1, $PqSubDim),
       |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) * $QuantScale)
       |      AS BIGINT) AS fp
       |  FROM $sub q JOIN pcent$PqIters c ON c.m = q.m
       |  WHERE q.vec_id < $NumQueries)""".stripMargin

  /** The ADC-scored, ranked tail after [[pqProbeCtesSql]] — SQL twin of
    * VectorIndex.adcScored + adcRanked over the coded corpus `codes` and
    * its cell assignment `assign`.
    */
  private def adcRankedSql(s: String, codes: String, assign: String): String =
    s"""scored$s AS (
       |  SELECT l.query_id, x.vec_id AS neighbor_id, a.cell,
       |    CAST(sum(l.fp) AS BIGINT) AS afp
       |  FROM $codes x
       |    JOIN $assign a ON a.vec_id = x.vec_id
       |    JOIN probe$s p ON p.cell = a.cell
       |    JOIN lut$s l ON l.query_id = p.query_id AND l.m = x.m
       |      AND l.cid = x.code AND l.query_id <> x.vec_id
       |  GROUP BY 1, 2, 3)
       |SELECT query_id, rank, neighbor_id, cell,
       |  round(CAST(afp AS DOUBLE) / $QuantScale.0, 4) AS adist
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY afp, neighbor_id) AS BIGINT) AS rank
       |      FROM scored$s)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  val ivfPqTopKSql: String =
    s"""${cellsCteSqlFor(NumCells)},
       |$pqBodyCtes,
       |${pqProbeCtesSql("12", "nz", "sub")},
       |${adcRankedSql("12", "codes", "assign")}""".stripMargin

  // ----------------------------------------------------------- n14

  /** n14: IVF+PQ + EXACT RESCORE — the PRODUCTION retrieval recipe the
    * PQ family's honest quality measurements dictate (PqSpec's clustered
    * fixture: 4 code bytes retrieve the RIGHT CLUSTER with agreement 1.0
    * but rank WITHIN it at ~0.27 exact-id recall — cluster members share
    * near-identical codes). The fix is n6's two-stage pattern wired onto
    * n12's cell-pruned candidates:
    *
    *  1. stage-1 POOL: the shared
    *     [[graft.operators.VectorIndex.ivfPqScored]] stage keeps the
    *     `PqRescorePool` best ADC candidates per query (exact-integer afp
    *     order, the candidate-bounded window shape n4/n12 audit);
    *  2. stage-2 RESCORE: the pool — ≤ |Q|·`PqRescorePool` rows by the
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
    * `pool` is the recall dial (sized per VectorIndex.PqRescorePool) for
    * PROGRAMMATIC callers; [[ivfPqRescoreTopKSql]] pins the default pool,
    * so only the default-pool call is oracle-matched — a registry entry
    * must bind pool = PqRescorePool (both registered twins, n14/n15, do).
    */
  def ivfPqRescoreTopK(spark: SparkSession, dir: String,
      numCells: Int = NumCells, pool: Int = PqRescorePool): DataFrame =
    VectorIndex.rescoredTopK(spark, dir,
      VectorIndex.ivfPqScored(spark, dir, numCells), pool)

  /** n14's oracle: n12's CTE chain (coarse cells + PQ codes + ADC
    * scores), pooled at `PqRescorePool` by the same exact-integer afp
    * order, then exact-cosine re-ranked — the two-stage composition in
    * SQL, sharing every sub-CTE with the n10–n12 oracles so the stages
    * can never drift from the queries they compose.
    */
  val ivfPqRescoreTopKSql: String =
    s"""${cellsCteSqlFor(NumCells)},
       |$pqBodyCtes,
       |${pqProbeCtesSql("12", "nz", "sub")},
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

  /** Kept only for the benchmark harness (`perfbench/`), which calls this
    * signature; deleted once it calls [[graft.operators.VectorIndex]]'s.
    */
  def buildIvfPqIndex(spark: SparkSession, dir: String, indexDir: String)
      : (Seq[VectorIndex.Centroid], VectorIndex.PqBook) =
    VectorIndex.buildIvfPqIndex(spark, dir, indexDir)

  /** Kept only for the benchmark harness (`perfbench/`), which calls this
    * signature; deleted once it calls [[graft.operators.VectorIndex]]'s.
    */
  def probeIvfPqIndex(spark: SparkSession, dir: String, indexDir: String,
      nprobe: Int): DataFrame =
    VectorIndex.probeIvfPqIndex(spark, dir, indexDir, nprobe)

  /** n13: the IVF+PQ index PERSISTED — build once, probe from disk; must
    * reproduce n12's from-scratch result exactly (shared oracle).
    */
  def ivfPqIndexTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = indexDirFor(spark, "ivfpq_index", dir)
    VectorIndex.buildIvfPqIndex(spark, dir, idx)
    VectorIndex.probeIvfPqIndex(spark, dir, idx, NumProbe)
  }

  /** n15: the SERVING composition — the persisted index's partition-pruned
    * disk probe (n13's [[graft.operators.VectorIndex.probeIvfPqScored]]:
    * quantizers and codes read from the artifact, only the probed cells'
    * partitions opened) feeding n14's exact-rescore stage
    * ([[graft.operators.VectorIndex.rescoredTopK]]: pool the best
    * `PqRescorePool` ADC candidates per query, point-fetch their raw
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
    VectorIndex.buildIvfPqIndex(spark, dir, idx)
    VectorIndex.rescoreProbedIndex(spark, dir, idx)
  }

  // ----------------------------------------------------------- n16

  /** n16's corpus split for the oracle-gated append demonstration: the
    * DELTA batch is every vector with vec_id ≡ [[AppendRem]] (mod
    * [[AppendMod]]) — ~10% of the corpus — and the BASE is the rest. The
    * split is mod-based (not hashed) so the oracle spells it verbatim.
    */
  private[queries] val AppendMod = 10L
  private[queries] val AppendRem = 7L

  /** The delta batch of [[ivfPqAppendTopK]]'s split, in the
    * embeddings-table shape [[graft.operators.VectorIndex.upsertIvfPqIndex]]
    * ingests.
    */
  private[graft] def appendDelta(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .filter(col("vec_id") % AppendMod === AppendRem)
      .select("vec_id", "embedding")

  /** Build the persisted IVF+PQ index over the BASE split only — the
    * pre-append deployment state: quantizers trained on, and `codes/`
    * covering, the corpus minus the delta — a named split, so its
    * quantizers never share a memo entry with the full corpus's.
    */
  private[graft] def buildIvfPqBaseIndex(spark: SparkSession, dir: String,
      indexDir: String, numCells: Int = NumCells): Unit =
    VectorIndex.buildIvfPqIndexCold(spark,
      VectorIndex.corpus(spark, dir, s"append_base_${AppendMod}_$AppendRem",
        col("vec_id") % AppendMod =!= AppendRem), indexDir, numCells)

  /** n16: INCREMENTAL INDEX MAINTENANCE — the persisted IVF+PQ index
    * built over the BASE split, the DELTA split landed under frozen
    * quantizers ([[graft.operators.VectorIndex.upsertIvfPqIndex]] — its ledger
    * lookup finds no old cell for a new id, so an insert batch rewrites
    * only its destination cells), then probed exactly like n13. The twin composes the artifact
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
    VectorIndex.upsertIvfPqIndex(spark, idx, appendDelta(spark, dir))
    VectorIndex.probeIvfPqIndex(spark, dir, idx, NumProbe)
  }

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
       |${pqProbeCtesSql("u", "nzu", "subu")},
       |${adcRankedSql("u", "codesu", "assignu")}""".stripMargin

  /** n16's oracle: the n12 chain re-pointed — `e` (feeding both quantizer
    * training chains, reused verbatim via [[cellsBodyCtesFor]] and
    * [[pqBodyCtes]]) is the BASE corpus; the assignment, codes, queries,
    * probe, and ADC scoring run over the UNION corpus (`eu` chain)
    * against the base-trained `cent*`/`pcent*` CTEs.
    */
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

  private[graft] def upsertPredicate: Column =
    col("vec_id") % UpsertMod === UpsertRem && col("vec_id") >= NumQueries

  /** The demo upsert batch in the embeddings-table shape
    * [[graft.operators.VectorIndex.upsertIvfPqIndex]] ingests: the split's ids
    * with NEGATED float embeddings (float negation is a sign-bit flip —
    * exact — so negating before or after the double widening is
    * bit-identical, and the oracle's `-CAST(x AS DOUBLE)` matches).
    */
  private[graft] def upsertBatch(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .filter(upsertPredicate)
      .select(col("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"))

  /** Kept only because the benchmark harness (`perfbench/`) calls it with
    * this exact signature: a delegate to
    * [[graft.operators.VectorIndex.upsertIvfPqIndex]]`(spark, indexDir, delta)`
    * that returns `("upsert", touched)`. `corpus` is unused. The delegate
    * is deleted once the harness is switched to call the operator
    * directly.
    */
  def maintainIvfPqIndex(spark: SparkSession, indexDir: String,
      delta: DataFrame, corpus: DataFrame): (String, Seq[Long]) =
    ("upsert", VectorIndex.upsertIvfPqIndex(spark, indexDir, delta))

  /** n17: VECTOR UPDATE on the persisted IVF+PQ index — the full-corpus
    * index built, the negated split UPSERTED under frozen quantizers
    * ([[graft.operators.VectorIndex.upsertIvfPqIndex]]: stale rows located
    * through the ledger, old and new cell partitions rewritten, emptied
    * partitions deleted), then probed exactly like n13. Like n16 the twin composes on every
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
    VectorIndex.buildIvfPqIndexCold(spark, VectorIndex.corpus(spark, dir), idx)
    VectorIndex.upsertIvfPqIndex(spark, idx, upsertBatch(spark, dir))
    VectorIndex.probeIvfPqIndex(spark, dir, idx, NumProbe)
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
    "n4_ivf_topk" -> ((s: SparkSession, d: String) => ivfTopK(s, d)),
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
