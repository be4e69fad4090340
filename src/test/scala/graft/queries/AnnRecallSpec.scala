package graft.queries

import graft.SparkTestBase

/** ANN quality harness: recall@k of the two approximate paths (n2 LSH
  * buckets, n4 IVF probes) against n1's exact brute-force top-k on the
  * same embeddings. The floors are set from measurement at sf0.01 with
  * margin; a bucketing regression (bad hyperplanes, wrong probe order)
  * shows up here long before anyone eyeballs search quality.
  *
  * Expected shape of the numbers: IVF at nprobe=2 searches ~2/8 of the
  * corpus chosen by centroid proximity and lands high recall; single-table
  * sign-LSH at this bucket width is the cheap-and-coarse end (its job at
  * scale is candidate pruning for DEDUP, where d6 pairs it with a verify
  * step — n2's recall records that trade honestly).
  */
class AnnRecallSpec extends SparkTestBase {

  private lazy val sf = testData("0.01")

  test("n4 IVF and n2 LSH recall@5 vs n1 exact, floors hold") {
    val exact = Similarity.bruteForceTopK(spark, sf)
    val lsh = Similarity.lshBucketTopK(spark, sf)
    val ivf2 = Similarity.ivfTopK(spark, sf, nprobe = 2)
    val ivf4 = Similarity.ivfTopK(spark, sf, nprobe = 4)

    val rLsh = Similarity.recallAtK(exact, lsh)
    val rIvf2 = Similarity.recallAtK(exact, ivf2)
    val rIvf4 = Similarity.recallAtK(exact, ivf4)
    info(f"recall@5: n2_lsh=$rLsh%.3f n4_ivf(np2)=$rIvf2%.3f n4_ivf(np4)=$rIvf4%.3f (sf0.01)")

    // floors from measurement minus margin (np2=0.64, np4 higher; the
    // synthetic embeddings are iid-random in 64d — near-orthogonal, the
    // hostile case for any ANN bucketing — so these are conservative
    // lower bounds for clustered real-world embeddings)
    assert(rIvf2 >= 0.55, f"n4 IVF nprobe=2 recall@5 regressed: $rIvf2%.3f < 0.55")
    assert(rIvf4 >= rIvf2, "nprobe dial must not reduce recall")
    assert(rIvf4 >= 0.75, f"n4 IVF nprobe=4 recall@5 regressed: $rIvf4%.3f < 0.75")
    // single-table sign-LSH is the coarse candidate pruner (d6 pairs it
    // with an exact verify); its recall records that trade honestly
    assert(rLsh >= 0.03, f"n2 LSH recall@5 regressed: $rLsh%.3f < 0.03")
    // and the approximate paths return full result sets for every query
    assert(ivf2.count() === exact.count())

    // n6 two-stage quantized retrieval: the top-20 pool plus exact
    // rescoring should lose almost nothing to int8 rounding even on the
    // iid-hostile fixture — this is the high-recall end of the dial
    // (contrast the LSH pruner's 0.03 floor above)
    val rQ = Similarity.recallAtK(exact, Similarity.quantizedRescoreTopK(spark, sf))
    info(f"recall@5: n6_quantized_rescore=$rQ%.3f (sf0.01)")
    assert(rQ >= 0.9, f"n6 quantized-rescore recall@5 regressed: $rQ%.3f < 0.9")
  }

  test("Lloyd refinement beats raw seed centroids on a clustered fixture") {
    // The realistic embedding shape: 8 well-separated blobs (block-axis
    // centers + gaussian noise). Adversarial to the seed initialization by
    // construction — all 8 seed vectors (vec_id < NumCells) come from blob
    // 0, so the raw quantizer's centroids are near-duplicates and the
    // other blobs split across cells on noise alone; the Lloyd rounds must
    // pull the centroids apart toward the actual cluster means. (On the
    // iid sf fixture above the same refinement is a no-op by design — no
    // structure to recover — which is why THIS fixture exists.)
    import spark.implicits._
    val dim = graft.functions.VectorLsh.Dim
    val blobs = 8
    val rnd = new scala.util.Random(42)
    val rows = (0 until 500).map { id =>
      val b = if (id < 8) 0 else id % blobs
      val emb = Array.tabulate(dim) { d =>
        val c = if (d / (dim / blobs) == b) 5.0f else 0.0f
        c + (rnd.nextGaussian() * 0.5).toFloat
      }
      (id.toLong, emb, b)
    }
    val dir = scratch("ann_clustered")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val exact = Similarity.bruteForceTopK(spark, dir)
    val raw = Similarity.recallAtK(exact,
      Similarity.ivfTopK(spark, dir, nprobe = 2, lloydIters = 0))
    val refined = Similarity.recallAtK(exact,
      Similarity.ivfTopK(spark, dir, nprobe = 2))
    info(f"clustered recall@5 (nprobe=2): raw_seeds=$raw%.3f lloyd=$refined%.3f")
    assert(refined > raw + 0.1,
      f"Lloyd refinement should beat raw seeds by a margin: $refined%.3f vs $raw%.3f")
    assert(refined >= 0.9,
      f"refined quantizer must recover the cluster structure: $refined%.3f < 0.9")
  }
}
