package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerBusShim
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase
import graft.operators.VectorIndex

/** Physical-plan contracts for the 100 TB design claims: these assert the
  * SHAPE of the plan, not its output — a correctness-preserving regression
  * to an all-pairs join or a lost pushdown should fail CI, not a profiler
  * session six months later. Plans are built against sf0.001 (plan shape is
  * scale-invariant; AQE may re-plan sizes at runtime but the static plan
  * must already be the right one).
  */
class PlanSpec extends SparkTestBase {

  private lazy val sf = testData("0.001")

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("dedup family never plans an all-pairs join") {
    // d4 (simhash pairs) and d6 (embedding near-dup) were quadratic in
    // round 1; pigeonhole banding / LSH bucketing must keep them equi-joins
    Seq("d1_exact_dedup", "d2_minhash_lsh", "d3_simhash",
      "d4_simhash_pairs", "d5_ngram_jaccard", "d6_embedding_near_dup",
      "d7_substring_dups", "d8_decontaminate", "d10_contamination_rate",
      "d12_dedup_verdicts", "t14_corpus_curation")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
      }
  }

  test("image near-dup (c4) pairs via the chunk equi-join — never all-pairs") {
    // the multimodal pigeonhole twin of d4: building the plan executes the
    // fixture render (photoCropHashes is imperative), so assert on the
    // final pair-join plan it hands back
    val p = plan("c4_crop_near_dups")
    assert(!p.contains("CartesianProduct"), "c4 plans a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "c4 plans a nested-loop join")
  }

  test("decontamination (d8) broadcasts the eval gram set; corpus side never shuffles for the join") {
    val p = plan("d8_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval gram set must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus grams must not sort-merge against the eval set")
  }

  test("repetition metrics (t11) are a pure single-scan projection — no join, no aggregate") {
    val p = plan("t11_repetition")
    assert(!p.contains("Join"), "t11 must not join")
    assert(!p.contains("HashAggregate"), "t11 must not aggregate")
  }

  test("simhash signatures (d3) are one per-row pass — no token explode, no aggregate") {
    // the cached signature plan prints inside d3's plan: a Generate or a
    // HashAggregate means the per-token explode and the per-bit sums are back
    val p = plan("d3_simhash")
    assert(!p.contains("Generate"), "d3 must not explode tokens")
    assert(!p.contains("HashAggregate"), "d3 must not aggregate")
    assert(p.contains("graft_simhash"), "d3 must sign with the native per-row expression")
  }

  test("MinHash bands (d12, d14) are one per-row pass — no shingle explode, no signature aggregate") {
    // d14 checkpoints its band frame while the query is built, so that
    // plan is read from the executions the build runs, beside the returned
    // frame's. The band posexplode and the verdicts' doc_id aggregate stay
    // legal; a shingle generator or an aggregate producing sig_ columns
    // means the explode -> doc_id shuffle -> 16-min aggregate is back, and
    // a Filter calling the band expression means each document is signed
    // twice (the size > 0 filter Spark infers for a posexplode, pushed
    // below the spread)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plans = try {
      val d12 = plan("d12_dedup_verdicts")
      val d14 = plan("d14_incremental_verdicts")
      ListenerBusShim.drain(spark.sparkContext)
      Seq("d12" -> d12, "d14" -> (d14 +: seen.asScala.toSeq).mkString("\n"))
    } finally spark.listenerManager.unregister(listener)
    val shingles = "explode\\(sequence\\(1, greatest\\(\\(?length\\(text".r
    plans.foreach { case (q, p) =>
      assert(p.contains("graft_minhash_bands"), s"$q must sign with the native per-row expression")
      assert(shingles.findFirstIn(p).isEmpty, s"$q explodes shingles")
      assert(!p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("sig_")),
        s"$q aggregates minhash signatures")
      assert(!p.linesIterator.exists(l => l.contains("Filter") && l.contains("graft_minhash_bands")),
        s"$q evaluates the band expression in a filter")
    }
  }

  test("LSH ANN (n2) is an equi-join; only the brute-force baseline (n1) may nested-loop") {
    val p = plan("n2_lsh_bucket_topk")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin")) // tiny query side broadcast on bucket
  }

  test("IVF ANN (n4): candidate joins are hash joins; nested-loop only against the 8-row centroid table") {
    val p = plan("n4_ivf_topk")
    assert(!p.contains("CartesianProduct"))
    // the assignment/probe cross joins hit the constant-size broadcast
    // centroid table — legal at any corpus size; the corpus-side candidate
    // join must be a hash join on (cell)/(vec_id)/(query_id)
    assert(p.contains("BroadcastHashJoin"), "candidate join lost its equi-join shape")
    // EVERY reported cosine must equal an independent in-test computation
    // over the raw embeddings (not just the ones overlapping n1's top-5) —
    // a wrong norm column or mis-joined vector fails here for all rows
    val vecs = graft.core.Tables(spark, sf).embeddings
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      // HALF_UP to match Spark's round()
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val e = Similarity.ivfTopK(spark, sf).collect()
    assert(e.nonEmpty)
    e.foreach { r =>
      val expect = cos(vecs(r.getAs[Long]("query_id")), vecs(r.getAs[Long]("neighbor_id")))
      assert(math.abs(expect - r.getAs[Double]("cos")) < 1e-9,
        s"cosine mismatch for (${r.getAs[Long]("query_id")}, ${r.getAs[Long]("neighbor_id")})")
    }
    // per-query results are ranked descending with no duplicates
    e.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val byRank = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos"))
      assert(byRank.sameElements(byRank.sortBy(-(_: Double))), "ranks out of order")
      val ids = rows.map(_.getAs[Long]("neighbor_id"))
      assert(ids.distinct.length === ids.length)
    }
  }

  test("semantic dedup (d11): within-cell pairing is a hash join on cell; nested-loop only against the centroid table") {
    val p = plan("d11_semantic_dedup")
    assert(!p.contains("CartesianProduct"))
    // like n4: the Lloyd assignment cross-joins the constant-size broadcast
    // centroid table (legal at any corpus size); the quadratic-within-cell
    // pairing itself must be an equi-join on the cell key
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "within-cell pairing lost its equi-join shape")
  }

  test("relational joins broadcast the constant dimension side") {
    // q5: the constant dims (nation 25 rows / region 5 rows) keep explicit
    // hints so at least one BroadcastHashJoin is pinned at any scale; the
    // SF-scaling sides (customer/supplier) carry NO hint — AQE broadcasts
    // them at fixture scale but is free to shuffle at 100 TB
    val p = plan("q5_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"))
    val qe = Relational.localSupplierVolume(spark, sf).queryExecution
    val hints = qe.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 2,
      s"q5 must hint exactly the two constant dims (nation/region), found ${hints.size}")
  }

  test("filters reach the parquet scan (pushdown)") {
    val p = plan("q6_revenue_forecast")
    assert(p.contains("PushedFilters: [IsNotNull"), "q6 lost its scan pushdown")
  }

  test("top-k compiles to TakeOrderedAndProject, not global sort") {
    assert(plan("q3_shipping_priority").contains("TakeOrderedAndProject"))
  }

  test("fingerprinting (t4) never shuffles per-SHINGLE rows") {
    val p = plan("t4_fingerprint")
    // the plan carries exactly two benign exchanges — the narrow per-DOC
    // Tables.spread and the final ORDER BY — but the fingerprint itself is
    // a per-row projection: no Generate/explode feeding an aggregate
    assert(!p.contains("HashAggregate"), "t4 regressed to explode+groupBy")
  }

  test("sequence packing (t20) and source capping (t21) never join or globally sort the corpus") {
    val p20 = plan("t20_pack_sequences")
    // t20's only joins are the two-level prefix sum's block-offset joins
    // (block-count-sized frames); the corpus-sized spans must meet the
    // seq aggregate through a hash exchange, never a nested loop
    assert(!p20.contains("CartesianProduct") && !p20.contains("BroadcastNestedLoopJoin"))
    val p21 = plan("t21_source_cap")
    assert(!p21.contains("Join"), "t21 must not join")
    // the rank window shuffles BY SOURCE — never through one partition
    assert(p21.contains("hashpartitioning(source"),
      "rank window must partition by source")
    assert(!p21.contains("SinglePartition"),
      "t21 must not funnel the corpus through one partition")
    // grouped-limit pushdown: the `rk <= cap` filter must compile to a
    // PARTIAL WindowGroupLimit below the exchange, so each map task ships
    // at most cap rows per source instead of its whole slice — the t21
    // shuffle is then ≤ cap·|sources| rows per map task at any corpus size
    assert(p21.contains(s"row_number(), ${Sampling.CapPerSource}, Partial"),
      "t21's cap must prune map-side (Partial WindowGroupLimit) before the shuffle")
  }

  test("weighted sampling (t18) is a scan + per-partition top-k — no global sort, no join") {
    val p = plan("t18_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "t18's top-k must compile to per-partition heaps, not a global sort")
    assert(!p.contains("Join"), "t18 must not join")
  }

  test("fuzzy decontamination (d13): eval side broadcasts everywhere; train text never sort-merges or nested-loops") {
    val p = plan("d13_fuzzy_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "d13 must never plan an all-pairs join between the corpora")
    assert(!p.contains("SortMergeJoin"),
      "the train corpus must not shuffle for any d13 join")
    assert(p.contains("BroadcastHashJoin"), "eval bands/sets must broadcast")
    // the candidate set is checkpointed once — its branches must appear as
    // materialized leaves, not re-derivations of the signature pipeline
    assert(p.contains("Scan ExistingRDD"),
      "candidates must be materialized once (localCheckpoint), not re-derived per branch")
  }

  test("cluster capping (t22): one scan, no join, cap pruned map-side before the cell exchange") {
    val p = plan("t22_cluster_cap")
    assert(!p.contains("Join"),
      "cell assignment must be an inline projection against centroid literals, not a join")
    assert(p.contains(s"row_number(), ${Sampling.CapPerCell}, Partial"),
      "the cap must prune map-side (Partial WindowGroupLimit) before rows shuffle")
  }

  test("incremental verdicts (d14): the ledger side only ever broadcast-joins — it is scanned, never exchanged") {
    val p = plan("d14_incremental_verdicts")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"),
      "no d14 join may shuffle both sides; the ledger must stay scan+broadcast-pruned")
  }

  test("incremental verdicts: both returned frames read the one checkpoint — neither re-plans the window") {
    // the verdicts and the next ledger both aggregate the batch's band rows
    // joined to the touched ledger slice; a Window in either plan means
    // that consumer re-derives the join and the (band, bh) exchange
    import graft.operators.TextDedup
    val (verdicts, ledger) = TextDedup.incrementalVerdicts(
      graft.core.Tables(spark, sf).documents, TextDedup.emptyNearDupLedger(spark))
    Seq("verdicts" -> verdicts, "ledger" -> ledger).foreach { case (n, f) =>
      val p = f.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"the $n frame re-plans the bucket-minimum window:\n$p")
      assert(p.contains("Scan ExistingRDD"), s"the $n frame does not read a checkpoint:\n$p")
    }
  }

  test("incremental verdicts (d14): one cold call at sf0.001 runs at most 26 jobs") {
    // each step adds its band-minimum checkpoint and its ledger, and the
    // verdicts aggregate once at the end; a step that re-derives its
    // joined band frame per consumer shows here as extra jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.SparkEntry.queries("d14_incremental_verdicts")(spark, sf).collect()
      ListenerBusShim.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get <= 26, s"d14 ran ${jobs.get} jobs")
  }

  test("coarse quantizer (n4, d11, n12, n7, st16): one cold sequence at sf0.001 trains it once") {
    // n4 trains the memoized quantizer (seed collect + Lloyd aggregates);
    // every later call in the sequence shares it, so a consumer that
    // retrains or keys its frame apart shows here as extra jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(f: => Unit): Int = {
      ListenerBusShim.drain(spark.sparkContext)
      jobs.set(0)
      f
      ListenerBusShim.drain(spark.sparkContext)
      jobs.get
    }
    val idx = scratch("plan_quantizer_jobs")
    VectorIndex.clearMemos()
    spark.sparkContext.addSparkListener(listener)
    val counts = try Seq(
      "n4" -> jobsOf(Similarity.ivfTopK(spark, sf).collect()),
      "d11" -> jobsOf(VectorIndex.semanticCells(spark, sf).collect()),
      "n12" -> jobsOf(Similarity.ivfPqTopK(spark, sf).collect()),
      "n7" -> jobsOf(VectorIndex.buildIvfIndex(spark, sf, idx)),
      "st16" -> jobsOf(VectorIndex.assignCellsToStream(spark, sf,
        graft.core.Tables(spark, sf).embeddings).collect()))
    finally spark.sparkContext.removeSparkListener(listener)
    // n4 pays the seed collect and both Lloyd aggregates; d11, n12, n7
    // and st16 pay only their own work
    assert(counts === Seq("n4" -> 16, "d11" -> 3, "n12" -> 22, "n7" -> 4, "st16" -> 3))
  }

  test("tf-idf (t9) tokenizes once: the df branch reuses the (doc_id, term) exchange") {
    // exchange reuse is an AQE stage decision, so it shows only in the
    // final plan of an executed query
    val t9 = graft.SparkEntry.queries("t9_tfidf_top_terms")(spark, sf)
    t9.collect()
    val p = t9.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.linesIterator.exists(l => l.contains("ReusedExchange") &&
      l.contains("hashpartitioning(doc_id") && l.contains("term")),
      s"t9's df branch re-explodes the tokens:\n$p")
    assert(p.linesIterator.count(_.contains("Generate explode")) === 1, p)
  }

  test("heavy hitters (z4): the exact recount joins candidates by BROADCAST — the token stream never sort-merges") {
    // plan() materializes pass 1 (the MG collect runs at plan build); the
    // returned frame is pass 2, whose only join must be the broadcast of
    // the tiny candidate list against the exploded token stream
    val p = plan("z4_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), "candidate filter must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "token stream must not shuffle for the candidate join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("seed vocab (t23): no join; grams partial-aggregate map-side before any exchange") {
    val p = plan("t23_seed_vocab")
    assert(!p.contains("Join"), "t23 must not join anything")
    // the position-explode rows must die into a partial hash aggregate in
    // the SCAN stage — the exchange then carries per-partition vocab, not
    // per-character rows (the whole 100 TB argument of the counting pass)
    val partial = p.indexOf("partial_count")
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(partial >= 0, "no map-side partial aggregation in the plan")
    assert(exchange >= 0 && partial > exchange,
      "partial aggregate must run upstream of the gram exchange " +
        "(executedPlan prints top-down: the scan-side partial appears after)")
  }

  test("hybrid fusion (n9): the only nested-loop is the dense leg's broadcast query scan; fusion adds no extra join") {
    val p = plan("n9_hybrid_rrf")
    assert(!p.contains("CartesianProduct"))
    // the dense leg is n1's broadcast-query corpus scan (legal at any
    // corpus size: the query side is a constant-size broadcast); the
    // lexical leg and the fusion itself must stay hash-only
    val nl = "BroadcastNestedLoopJoin"
    assert(p.indexOf(nl) === p.lastIndexOf(nl),
      "more than one nested-loop join — something beyond the dense leg degenerated")
  }

  test("leakage split (t24): the corpus-vs-clusters join never degenerates to cartesian or nested-loop") {
    val p = plan("t24_leakage_split")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("metadata stats (q11): aggregates are served from parquet footers, not data pages") {
    val p = plan("q11_metadata_stats")
    assert(p.contains("PushedAggregation: [COUNT(*), MIN(l_orderkey), " +
      "MAX(l_orderkey), MAX(l_extendedprice)]"),
      "the footer-pushdown plan silently fell back to a scanning aggregate:\n" + p)
  }
}
