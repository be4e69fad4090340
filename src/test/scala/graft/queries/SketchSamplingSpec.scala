package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.VectorIndex

/** Pins the two round-8 selection/sketch operators.
  *
  * z4 heavy hitters: the output is defined purely by (corpus, k) — exact
  * counts over the relative threshold — so it must be bit-identical under
  * any partitioning of the input and any counter budget k. The Misra–Gries
  * pass only PRUNES; these tests are the "candidates ⊇ true heavy hitters"
  * guarantee exercised where it could break (tokens split across many
  * partitions, k barely above the distinct-heavy-token count).
  *
  * t18 weighted sampling: deterministic content-hash randomness means the
  * draw is a pure function of the corpus — same sample on re-run — and the
  * A-ES key construction means weights actually bias the draw.
  */
class SketchSamplingSpec extends SparkTestBase {

  private lazy val SfDir = testData("0.001")

  /** Synthetic corpus with exactly known token counts: "aa" x 500 spread
    * over many docs, "bb" on the inclusion boundary, "cc" just under it,
    * plus unique filler tokens. Total = 1000 tokens, so with k = 200 the
    * threshold is cnt*200 >= 1000, i.e. freq >= 5.
    */
  private def corpus(parallelism: Int) = {
    import spark.implicits._
    // 100 docs x 5 "aa"; 1 doc of 5 "bb"; 1 doc of 4 "cc" + filler
    val docs =
      (1 to 100).map(_ => "aa aa aa aa aa") ++ // 500 aa
        Seq("bb bb bb bb bb") ++                // 5 bb  (boundary: kept)
        Seq("cc cc cc cc") ++                   // 4 cc  (under: dropped)
        (1 to 491).map(i => s"fill$i")          // 491 uniques -> total 1000
    docs.toDF("text").repartition(parallelism)
  }

  test("z3b: the rank-interval check is falsifiable - a wrong candidate reads false") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$SfDir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val flags = li.select("l_returnflag").distinct()
      .collect().map(_.getString(0)).sorted
    val ps = Seq(0.5, 0.9, 0.99)
    // honest candidates: the true max price can only ever satisfy p99 in
    // a degenerate group, never p50 - corrupt every flag's p50 slot with
    // it while keeping p90/p99 at plausibly-true order statistics
    val stats = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.9, 0.99))").as("q"),
        max("l_extendedprice").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1), r.getDouble(2))).toMap
    val corrupted = flags.map { f =>
      val (q, mx) = stats(f); f -> Seq(mx, q(0), q(1))
    }.toMap
    val out = Sketches.quantileRankCheck(li, corrupted, ps).collect()
    assert(out.nonEmpty)
    // p50 must read FALSE everywhere (the max's rank interval ends at n,
    // nowhere near 0.5n +- 1%), while the exact p90/p99 stay true - the
    // check discriminates per percentile, not per row
    assert(out.forall(r => !r.getBoolean(2)), "corrupted p50 passed")
    assert(out.forall(r => r.getBoolean(3) && r.getBoolean(4)),
      "exact p90/p99 failed")
  }

  test("z4: exact counts with boundary inclusion, invariant to partitioning and k") {
    val expect = Set(("aa", 500L), ("bb", 5L))
    for (par <- Seq(1, 7, 32); k <- Seq(3, 50, 200)) {
      val got = Sketches.heavyHittersOf(corpus(par), k = k)
      // threshold is relative to k: recompute expectation for each k
      val want: Set[(String, Long)] =
        if (k >= 200) expect
        else Set(("aa", 500L), ("bb", 5L)).filter(_._2 * k >= 1000L)
      assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        === want, s"par=$par k=$k")
    }
  }

  test("z4: registered entry matches a plain groupBy-HAVING twin on the fixture") {
    val got = Sketches.heavyHitters(spark, SfDir)
    val toks = graft.core.Tables(spark, SfDir).documents
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val total = toks.count()
    val twin = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * Sketches.HhK >= total)
    assert(got.count() > 0, "fixture should have heavy hitters (stopwords)")
    assert(got.exceptAll(twin).isEmpty && twin.exceptAll(got).isEmpty)
  }

  test("t18: deterministic, exactly K rows, and re-draw stable") {
    val a = Sampling.weightedSample(spark, SfDir).collect()
    val b = Sampling.weightedSample(spark, SfDir).collect()
    assert(a.length === Sampling.WSampleK)
    assert(a.map(_.getLong(0)).toSeq === b.map(_.getLong(0)).toSeq)
  }

  test("t22: at most CapPerCell survivors per cell, deterministic, and cells that fit keep everything") {
    val got = Sampling.clusterCap(spark, SfDir)
    val perCell = got.groupBy("cell").count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    assert(perCell.values.max <= Sampling.CapPerCell)
    // the draw is a pure function of (corpus, quantizer): re-run identical
    val again = Sampling.clusterCap(spark, SfDir).collect().map(_.getLong(0))
    assert(got.collect().map(_.getLong(0)).toSeq === again.toSeq)
    // any cell at or under the cap survives intact (the cap only prunes)
    val cellSizes = VectorIndex.semanticCells(spark, SfDir)
      .groupBy("cell").count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    cellSizes.filter(_._2 <= Sampling.CapPerCell).foreach { case (cell, n) =>
      assert(perCell(cell) === n, s"under-cap cell $cell must keep all $n")
    }
  }

  test("t18: weights bias the draw - sampled docs are longer than the corpus average") {
    // A-ES with w = n_chars: P(keep) scales with length, so the sampled
    // mean length must exceed the corpus mean by a clear margin. This is a
    // deterministic assertion (fixed corpus, fixed hash), not a flaky
    // statistical one - the margin is huge unless the keying is wrong.
    val docs = graft.core.Tables(spark, SfDir).documents
    val corpusMean = docs.agg(avg("n_chars")).first().getDouble(0)
    val sampleMean = Sampling.weightedSample(spark, SfDir)
      .agg(avg("n_chars")).first().getDouble(0)
    assert(sampleMean > corpusMean * 1.1,
      s"sample mean $sampleMean vs corpus mean $corpusMean")
  }
}
