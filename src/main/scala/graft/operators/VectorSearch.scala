package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps.dot

/** Reusable cosine similarity-search OPERATORS over any (id, v) vector
  * frames — the generic forms of the n1/n2 query shapes
  * (graft.queries.Similarity binds them to the embeddings table), rounding
  * out the operator tier next to [[TemporalJoins]] and [[TextDedup]].
  *
  * Both expect frames with columns `id` (numeric) and `v`
  * (array<double>); [[cosineTopKBucketed]] additionally expects a
  * `bucket` column on both sides (any equi-joinable type — hyperplane
  * LSH sign-buckets via graft.functions.VectorLsh, IVF cell ids, or a
  * caller's own partitioner). Dot products run through the codegen'd
  * `graft_dot` expression; scores round to 4 decimals and rank with an
  * id tie-break, so ranking never hinges on sub-ulp float noise.
  *
  * ZERO-NORM vectors are excluded on both sides (cosine to a zero
  * vector is undefined): without the filter a zero corpus vector scores
  * 0/0 = NaN against every query, and Spark's descending sort puts NaN
  * FIRST — the zero vector would silently outrank every real neighbor.
  * A zero-norm query likewise returns no rows rather than NaN scores.
  * (The quantized path already dropped them via its `amax > 0` scale
  * guard; this pins the same contract on the float paths.)
  */
object VectorSearch {

  private def prep(df: DataFrame, idAs: String, vAs: String,
      nAs: String): DataFrame = {
    df.withColumnRenamed("id", idAs)
      .withColumnRenamed("v", vAs)
      .withColumn(nAs, sqrt(dot(col(vAs), col(vAs))))
      // Spark orders NaN ABOVE every number, so `> 0` alone would admit a
      // NaN-component vector (NaN norm) and its NaN scores would rank
      // first — the exact hazard the zero-norm filter exists to kill
      .filter(col(nAs) > 0 && !isnan(col(nAs)))
  }

  private def rank(scored: DataFrame, k: Int, extra: Seq[String]): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(("query_id" +: extra) ++ Seq("rank", "neighbor_id", "cos") map col: _*)
  }

  /** EXACT cosine top-k: every corpus vector scored for every query
    * (self-pairs excluded by id). The query side broadcasts — correct for
    * the bounded-|Q| "probe a corpus" shape; the corpus side only scans.
    * This is the O(|Q|·n) baseline the bucketed variant is measured
    * against (AnnRecallSpec); at corpus scale use [[cosineTopKBucketed]].
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = prep(queries, "query_id", "v1", "n1")
    val c = prep(corpus, "neighbor_id", "v2", "n2")
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
    rank(scored, k, Nil)
  }

  /** TWO-STAGE QUANTIZED RETRIEVAL (SQ8 + rescore, the production ANN
    * memory-bandwidth pattern): stage 1 ranks EVERY candidate by an
    * int8-quantized dot product — the scan stage carries only quantized
    * vectors, per-vector scales, and precomputed norms, the payload a
    * byte-encoded index holds at 1/4 the float traffic — and keeps the
    * top `pool` per query; stage 2 fetches float vectors for ONLY those
    * |Q|·pool candidates (broadcast joins, never a per-pair scan) and
    * re-ranks by exact cosine. Quantization is the n5 scheme
    * (q_i = round(x_i·127/amax)); zero vectors drop as there. The pool
    * is the recall dial: a candidate the quantized order puts below
    * `pool` is lost, everything above is re-ranked exactly
    * (AnnRecallSpec floors the recall against the n1 exact baseline).
    *
    * The quantized vectors are PHYSICALLY doubles here so the codegen'd
    * `graft_dot` kernel scores them — the values are exact int8 lattice
    * points (products ≤ 127², sums ≤ Dim·127², exact in double); a
    * byte-array encoding is a storage swap, not a semantics change.
    */
  def quantizedRescoreTopK(queries: DataFrame, corpus: DataFrame,
      k: Int, pool: Int): DataFrame = {
    def quantize(df: DataFrame): DataFrame =
      df.withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
        .filter(col("amax") > 0 && !isnan(col("amax")))
        .withColumn("qv", expr(
          "transform(v, x -> CAST(CAST(round(x * 127.0 / amax, 0) AS BIGINT) AS DOUBLE))"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = quantize(queries).select(col("id").as("query_id"),
      col("qv").as("q_qv"), col("amax").as("q_amax"), col("nrm").as("q_nrm"))
    val c = quantize(corpus).select(col("id").as("neighbor_id"),
      col("qv").as("c_qv"), col("amax").as("c_amax"), col("nrm").as("c_nrm"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("qcos", round(
        dot(col("q_qv"), col("c_qv")) * col("q_amax") * col("c_amax") /
          lit(16129.0) / (col("q_nrm") * col("c_nrm")), 4))
    val wq = Window.partitionBy("query_id").orderBy(desc("qcos"), asc("neighbor_id"))
    val cand = scored.withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= pool)
      .select("query_id", "neighbor_id", "qcos")
    val qf = queries.select(col("id").as("query_id"), col("v").as("v1"),
      sqrt(dot(col("v"), col("v"))).as("n1"))
    val cf = corpus.select(col("id").as("neighbor_id"), col("v").as("v2"),
      sqrt(dot(col("v"), col("v"))).as("n2"))
    val rescored = cf.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qf), Seq("query_id"))
      .withColumn("cos",
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    rescored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos", "qcos")
  }

  /** HARD-NEGATIVE MINING (contrastive-training data prep; public
    * literature: DPR, Karpukhin et al. 2020 — the "hard negatives come
    * from the retriever itself" recipe): for each query vector, the top-k
    * most similar corpus vectors with a DIFFERENT label. Both frames
    * carry (id, v, label); a label mismatch implies an id mismatch, so
    * the label predicate is the whole join condition. Same plan contract
    * as [[cosineTopK]]: the bounded query set broadcasts, the corpus only
    * scans — and the label filter runs inside the scan stage, so excluded
    * same-class pairs never rank. At corpus scale, restrict candidates
    * first (a `bucket` column + an equi-join, as in
    * [[cosineTopKBucketed]]) and apply the same label predicate there.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = prep(queries, "query_id", "v1", "n1")
      .withColumnRenamed("label", "query_label")
    val c = prep(corpus, "neighbor_id", "v2", "n2")
      .withColumnRenamed("label", "neighbor_label")
    val scored = broadcast(q).join(c, col("query_label") =!= col("neighbor_label"))
      .withColumn("cos",
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "neighbor_label", "cos")
  }

  /** Bucketed ANN top-k: candidates restrict to the query's bucket, then
    * rank by exact cosine — the equi-join plan that survives a 100x
    * corpus (the quadratic work only happens within buckets). Recall is
    * the bucketing's dial, not the ranking's: results are exact within
    * the candidate set.
    */
  def cosineTopKBucketed(queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val q = prep(queries, "query_id", "v1", "n1")
    val c = prep(corpus, "neighbor_id", "v2", "n2")
    val scored = broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
    rank(scored, k, Seq("bucket"))
  }
}
