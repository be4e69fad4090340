package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Product-quantization harness (n10 encode, n11 ADC top-k): structural
  * invariants of the code table, Lloyd refinement actually reducing
  * reconstruction error, the kernel's tie contract, ADC recall against the
  * exact baseline, and the plan shapes the 100 TB story depends on.
  */
class PqSpec extends SparkTestBase {

  private lazy val sf = testData("0.01")

  test("n10 codes: M rows per vector, codes in the seed-cid set, mse finite") {
    val codes = Similarity.pqCodes(spark, sf).cache()
    val e = Similarity.pqCorpus(spark, sf)
    val book = Similarity.pqBookFor(spark, sf, e)
    try {
      val perVec = codes.groupBy("vec_id").count()
        .agg(min("count"), max("count")).head()
      assert(perVec.getLong(0) === Similarity.PqM.toLong)
      assert(perVec.getLong(1) === Similarity.PqM.toLong)
      val cidSet = book.cids.toSet
      val badCode = codes.filter(!col("code").isin(cidSet.toSeq.map(Long.box): _*))
      assert(badCode.count() === 0, "code outside the codeword-id universe")
      val badMse = codes.filter(col("sub_mse") < 0 || isnan(col("sub_mse")) ||
        col("sub_mse").isNull)
      assert(badMse.count() === 0, "sub_mse must be a finite non-negative double")
    } finally codes.unpersist()
  }

  test("Lloyd rounds do not increase total reconstruction error") {
    // k-means monotonicity, modulo the deliberate round-4 score used for
    // cross-engine tie determinism: each assign+mean round minimizes the
    // summed squared error for the previous codebook, so total error is
    // non-increasing across rounds (allow 1e-6 slack for the rounding).
    val e = Similarity.pqCorpus(spark, sf).cache()
    try {
      val sub = Similarity.pqSub(e).cache()
      try {
        def totalErr(book: Similarity.PqBook): Double = {
          val cb = book.cids.indices.flatMap { ci =>
            (0 until Similarity.PqM).map(m =>
              (m.toLong, book.cids(ci), book.cbs(m)(ci).toSeq))
          }
          import spark.implicits._
          val cbDf = cb.toDF("m", "cid", "cv")
          val coded = sub.withColumn("code", graft.functions.PqNearest.codeCol(
            book.cids, book.cbs, col("m"), col("sv")))
          coded
            .join(broadcast(cbDf),
              coded("m") === cbDf("m") && coded("code") === cbDf("cid"))
            .select(expr(
              """aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)),
                |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin).as("err"))
            .agg(sum("err")).head().getDouble(0)
        }
        val seeds = Similarity.pqSeeds(e)
        val r1 = Similarity.pqRound(sub, seeds)
        val r2 = Similarity.pqRound(sub, r1)
        val (e0, e1, e2) = (totalErr(seeds), totalErr(r1), totalErr(r2))
        info(f"total sq reconstruction error: seeds=$e0%.4f r1=$e1%.4f r2=$e2%.4f")
        assert(e1 <= e0 + 1e-6, f"round 1 increased error: $e1%.6f > $e0%.6f")
        assert(e2 <= e1 + 1e-6, f"round 2 increased error: $e2%.6f > $e1%.6f")
      } finally sub.unpersist()
    } finally e.unpersist()
  }

  test("PqNearest ties break to the lowest cid") {
    import spark.implicits._
    // two identical codewords → identical scores → lowest cid must win
    val cids = Array(3L, 7L)
    val cw = Array(1.0, 2.0)
    val cbs = Array(Array(cw, cw.clone()))
    val df = Seq((0L, Seq(1.0, 2.0))).toDF("m", "sv")
      .select(graft.functions.PqNearest.codeCol(cids, cbs, col("m"), col("sv")).as("c"))
    assert(df.head().getLong(0) === 3L)
  }

  test("n11 ADC recall@5 vs n1 exact; plan uses the heap aggregate, no window") {
    val exact = Similarity.bruteForceTopK(spark, sf)
    val adc = Similarity.pqAdcTopK(spark, sf)
    val r = Similarity.recallAtK(exact, adc)
    info(f"recall@5: n11_pq_adc=$r%.3f (sf0.01, M=4 K=16 on iid-random 64d)")
    // NOTE: L2-ADC ranking vs a cosine exact baseline on iid-random
    // vectors is the hostile floor for PQ (norms vary, 4 sub-codebooks of
    // 16 cover 64 dims); the floor records the measured value minus
    // margin, same protocol as AnnRecallSpec's n2/n4 floors
    assert(r >= 0.10, f"n11 PQ-ADC recall@5 regressed: $r%.3f < 0.10")
    assert(adc.count() === exact.count(), "full result set per query")

    val plan = adc.queryExecution.executedPlan.toString
    assert(plan.contains("graft_topk"), "ranking must run the native heap aggregate")
    assert(!plan.contains("Window"), "no per-query window sort over n·|Q| candidates")
    assert(!plan.contains("SortMergeJoin"), "codes never shuffle for a join")
  }

  test("n12 IVF+PQ: recall floor holds (prune may beat pure ADC); no shuffle join") {
    val exact = Similarity.bruteForceTopK(spark, sf)
    val adc = Similarity.pqAdcTopK(spark, sf)
    val ivfpq = Similarity.ivfPqTopK(spark, sf)
    val rAdc = Similarity.recallAtK(exact, adc)
    val rIvfPq = Similarity.recallAtK(exact, ivfpq)
    info(f"recall@5: n12_ivfpq=$rIvfPq%.3f vs n11_adc=$rAdc%.3f (sf0.01)")
    // NOTE: recall vs the EXACT baseline is NOT monotone under cell
    // pruning — the prune also removes ADC FALSE POSITIVES (candidates
    // whose quantized distance scored spuriously high), so IVF+PQ can
    // beat pure ADC (measured here: 0.25 vs 0.23 — the coarse quantizer
    // acts as a geometric consistency check on the fine one). Only a
    // floor is asserted: measured minus margin on the iid-hostile fixture
    assert(rIvfPq >= 0.05, f"n12 IVF+PQ recall@5 regressed: $rIvfPq%.3f < 0.05")
    assert(ivfpq.count() === exact.count(), "full result set per query")

    // plan before execution (AQE's final string repeats materialized stages)
    val plan = Similarity.ivfPqTopK(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "probe and LUT join as broadcasts; candidate codes never shuffle for a join")
    val scans = "Scan parquet".r.findAllIn(plan).size
    // corpus scan for (cell, codes) + the contract-bounded query-side
    // scans (probe + LUT legs); the point is the CORPUS is not re-scanned
    // per leg — the codebook/centroid training runs before this plan
    assert(scans <= 4, s"expected corpus + query-side scans only, saw $scans")
  }

  test("PQ on a clustered fixture: ADC retrieves from the right cluster; within-cluster ranking needs rescore") {
    // the iid sf fixture above is the PQ-hostile floor (near-orthogonal
    // random vectors leave nothing for 4x16 codewords to capture); REAL
    // embedding spaces cluster, and there ADC ranking must recover most
    // of the true neighborhood — same blob fixture as AnnRecallSpec, same
    // honest-record protocol (measured minus margin)
    import spark.implicits._
    val dim = graft.functions.VectorLsh.Dim
    val blobs = 8
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { id =>
      val b = if (id < 16) id % 2 else id % blobs // seeds span only 2 blobs
      val emb = Array.tabulate(dim) { d =>
        val c = if (d / (dim / blobs) == b) 5.0f else 0.0f
        c + (rnd.nextGaussian() * 0.5).toFloat
      }
      (id.toLong, emb, b)
    }
    val dir = scratch("pq_clustered")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // What 4 code bytes can and cannot do, measured honestly: exact-id
    // recall stays LOW even here (~0.27 — all of a blob's members share
    // nearly identical codes, so ranking WITHIN the blob is quantization
    // noise; that's why the production recipe is an ADC pool + exact
    // rescore, n6's two-stage pattern). What ADC DOES guarantee is
    // cluster-level retrieval: the neighbors it returns come from the
    // query's own blob.
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"))
    def blobAgreement(res: org.apache.spark.sql.DataFrame): Double = {
      val joined = res
        .join(labels.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "qlab"), Seq("query_id"))
        .join(labels.withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("label", "nlab"), Seq("neighbor_id"))
      joined.filter(col("qlab") === col("nlab")).count().toDouble /
        joined.count().toDouble
    }
    val exact = Similarity.bruteForceTopK(spark, dir)
    val rAdc = Similarity.recallAtK(exact, Similarity.pqAdcTopK(spark, dir))
    val aAdc = blobAgreement(Similarity.pqAdcTopK(spark, dir))
    val aIvfPq = blobAgreement(Similarity.ivfPqTopK(spark, dir))
    info(f"clustered: exact-id recall@5=$rAdc%.3f, blob agreement " +
      f"n11_adc=$aAdc%.3f n12_ivfpq=$aIvfPq%.3f")
    assert(aAdc >= 0.9,
      f"ADC neighbors must come from the query's own cluster: $aAdc%.3f < 0.9")
    assert(aIvfPq >= 0.9,
      f"cell-pruned ADC neighbors must come from the query's cluster: $aIvfPq%.3f < 0.9")
    // and the honest record of the limit: within-cluster ranking at 4
    // bytes/vector is NOT exact-id faithful — rescore for that
    assert(rAdc < 0.7, "if this starts passing, update the scaladoc story")

    // n14 closes the measured gap: the same cell-pruned ADC stage, pooled
    // at RescorePool and exact-cosine re-ranked, must recover (nearly)
    // the whole true top-k — the production recipe, now pinned as a query
    val rRescore = Similarity.recallAtK(exact,
      Similarity.ivfPqRescoreTopK(spark, dir))
    info(f"clustered: n14_ivfpq_rescore exact-id recall@5=$rRescore%.3f " +
      f"(vs pure ADC $rAdc%.3f)")
    assert(rRescore >= 0.9,
      f"rescore must make cell-pruned ADC exact-id faithful: $rRescore%.3f < 0.9")
  }

  test("n14 plan: pool and queries broadcast; no shuffle join; windows are pool-bounded") {
    val plan = Similarity.ivfPqRescoreTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "stage-1 probe/LUT joins and the stage-2 pool/query fetches are all " +
        "broadcasts — the corpus never shuffles for a join")
    // two window stages exist (stage-1 pool cut, stage-2 re-rank) but both
    // rank candidate-bounded inputs: cell-pruned candidates and the
    // ≤ |Q|·RescorePool pool — never the raw corpus
    assert("Window".r.findAllIn(plan).size >= 2, "two-stage ranking expected")
  }
}
