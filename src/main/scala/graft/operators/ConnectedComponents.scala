package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CONNECTED COMPONENTS over an undirected edge list (d1, d2) by
  * iterative hash-min label propagation WITH path halving: each round
  * every node takes the min of its own label, its neighbors' labels, and
  * its label's label (pointer jump). The jump step compresses chains
  * geometrically, so rounds are O(log diameter) rather than O(diameter)
  * — the classic MapReduce CC construction, built purely from
  * DataFrame joins/aggregations so every round is shuffle-bounded on
  * node ids (no GraphX/RDD surface). Output: (doc_id, cluster_id), the
  * cluster id being the component's minimum node id. d9 binds it to the
  * simhash pair list (graft.queries.Dedup.dupClusters).
  *
  * The driver loop is COORDINATION, not data flow: per round, one
  * count action decides convergence while all per-edge work stays
  * distributed; `localCheckpoint` truncates the growing lineage so
  * round N's plan doesn't re-derive rounds 1..N-1.
  */
object ConnectedComponents {

  def connectedComponents(edges: DataFrame): DataFrame =
    connectedComponentsWithRounds(edges)._1

  /** As [[connectedComponents]], also reporting the ROUND COUNT so the
    * O(log diameter) convergence claim is spec-pinned (ComponentsSpec runs
    * a long chain and asserts rounds ≪ diameter), not just documented.
    */
  private[graft] def connectedComponentsWithRounds(edges: DataFrame): (DataFrame, Int) = {
    val spark = edges.sparkSession
    // AQE off for the loop only: every round re-runs the same fixed-shape
    // equi-joins over label-sized frames, and AQE's per-stage re-planning
    // charges driver latency to each — measured 2x on the whole query at
    // fixture scale (8.8s vs 16.6s). The pair-generation ahead of the loop
    // still runs under AQE (it owns the skew risk); per-round skew is
    // bounded because label frames hold one row per node.
    // Size the loop's partitioning from the DIRECTED pair count (symmetric
    // edge count = 2x): one tiny aggregate over the incoming pair frame
    // (cache-served when d2/d4 warmed the pair memo) instead of a full
    // materialization of the symmetric union — the union used to be
    // persisted+counted here and then REPARTITIONED into a second persisted
    // copy below, a double materialization of the same rows (measured 2.3 s
    // + 1.2 s of the 6.7 s warm query at sf0.1; guide §1.2: remove passes
    // before tuning inside them).
    val edgeCount = 2L * edges.count()
    // The conf mutations below (AQE off, loop-sized shuffle.partitions) are
    // session-scoped, so the loop runs in its OWN child session
    // (`spark.newSession()` — same SparkContext, executors, and cache, but
    // isolated conf): a query planned concurrently on the caller's session
    // can never inherit loopParts (1 at fixture scale) or no-AQE, no matter
    // when it races the loop. CcIsolationSpec pins this by planning parent-
    // session queries mid-loop. Frames cross the session boundary through
    // global temp views — the view re-resolves the SAME analyzed plan in
    // the child, and the shared CacheManager serves symRaw's persisted
    // partitions to both sessions, so nothing recomputes or re-shuffles.
    val loop = spark.newSession()
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    val symView = s"graft_cc_sym_$tag"
    val outView = s"graft_cc_out_$tag"
    // With AQE off in the loop, the loop's shuffles all use the static
    // shuffle partition count — size it from the MEASURED pair count (the
    // count() above already paid for it) instead of the session default.
    // Edges are two longs and label frames ≤1 row/node, so 100k
    // rows/partition is comfortably in-memory; capped at 4096 for the
    // billion-edge end. At fixture scale this collapses every loop stage to
    // 1 task, and at 100 TB it GROWS the loop's parallelism past a
    // too-small session default rather than inheriting it.
    val loopParts = math.max(1L, math.min(4096L, edgeCount / 100000L)).toInt
    // Symmetrize + pre-partition AND pre-sort the edge list by the
    // per-round join key in ONE materialization, in the PARENT session (AQE
    // on — when the pair-generation DAG behind `edges` is cold, the
    // skew-prone candidate join still plans adaptively; the explicit
    // repartition(n, dst) is preserved under AQE, so the cached layout is
    // exactly the loop's join layout). InMemoryRelation preserves
    // outputPartitioning/outputOrdering, so every round's sort-merge join
    // reads sym's cached partitions with its exchange AND sort both elided
    // — without the pre-layout, each round re-shuffled and re-sorted the
    // full edge list from scratch (on a cluster, a full edge shuffle per
    // round). The same one-partitioning-reused-across-iterations layout is
    // what a real multi-node deployment wants.
    val symParent = edges.select(col("d1").as("src"), col("d2").as("dst"))
      .union(edges.select(col("d2").as("src"), col("d1").as("dst")))
      .repartition(loopParts, col("dst"))
      .sortWithinPartitions("dst")
      .persist()
    try {
      loop.conf.set("spark.sql.adaptive.enabled", "false")
      loop.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
      symParent.count()
      symParent.createOrReplaceGlobalTempView(symView)
      // the child re-resolves the SAME analyzed plan through the view, and
      // the shared CacheManager serves symParent's persisted partitions —
      // nothing recomputes or re-shuffles across the session boundary
      val sym = loop.table(s"global_temp.$symView")
      val (labels, rounds) = connectedComponentsLoop(sym)
      // Re-bind the result to the CALLER's session (labels is already
      // materialized by the loop's final localCheckpoint, so the parent
      // re-resolution just reads that RDD — no recompute): callers compose
      // it with parent-session frames (t14's curation join), which must not
      // mix sessions.
      labels.createOrReplaceGlobalTempView(outView)
      (spark.table(s"global_temp.$outView"), rounds)
    } finally {
      // Release the cache and the cross-session views on EVERY exit path —
      // a failure mid-loop must not leave the edge frame pinned. The child
      // session's conf dies with it; there is nothing to restore. The out
      // view is dropped too: the returned frame's plan is already resolved,
      // so the name doesn't need to outlive this call.
      symParent.unpersist(false)
      spark.catalog.dropGlobalTempView(symView)
      spark.catalog.dropGlobalTempView(outView)
    }
  }

  private def connectedComponentsLoop(sym: DataFrame): (DataFrame, Int) = {
    // LAZY localCheckpoint throughout the loop: the checkpoint is marked on
    // the frame and MATERIALIZED by the lblSum action that follows, so each
    // round costs ONE job (propagate+checkpoint+sum fused) instead of two
    // (eager-checkpoint job, then a sum job over the materialized blocks) —
    // one driver round-trip per round instead of two, which is the loop's
    // real unit of cost at any scale (guide §1.2).
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(false)
    // convergence = unchanged label sum: labels only ever DECREASE (every
    // update is a min), so an equal sum means a fixpoint — one cheap agg
    // on the materialized checkpoint instead of a compare-join per round.
    // decimal(38,0): exact at any node-count/id scale, no Long overflow.
    def lblSum(df: DataFrame): java.math.BigDecimal = {
      // sum over zero rows is null (empty edge list: a clean corpus has no
      // near-dup pairs at all) — normalize so the fixpoint compare works
      // and the loop exits after one empty round
      val s = df.agg(sum(col("lbl").cast("decimal(38,0)"))).first().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = lblSum(labels)
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      // One aggregation per round: next(i) = min over {own label} ∪
      // {neighbors' labels} ∪ {label-of-label} (path halving — labels are
      // always node ids, so label-of-label jumps two hops toward the
      // component min). Stated as a 3-way UNION feeding one min-aggregate
      // rather than chained left-joins: an earlier formulation self-joined
      // a derived `stepped` frame for the halving jump, which re-computed
      // the whole neighbor-min chain on BOTH sides of that join every
      // round (derived frames aren't materialized) — 2x the work per
      // round for identical output. The pointer join is INNER because
      // every label is some node's id, so a matching row always exists;
      // isolated nodes survive via the own-label branch. (A deeper
      // pointer chain — lbl³ per round — was measured in r21 and did NOT
      // reduce the fixture's round count; the extra self-join only added
      // per-round cost, so the single jump stays.)
      val viaEdges = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("lbl"))
      val viaPtr = labels.as("x")
        .join(labels.select(col("id").as("jid"), col("lbl").as("jlbl")),
          col("x.lbl") === col("jid"))
        .select(col("x.id").as("id"), col("jlbl").as("lbl"))
      val next = labels.select(col("id"), col("lbl"))
        .union(viaEdges).union(viaPtr)
        .groupBy("id").agg(min("lbl").as("lbl"))
        .localCheckpoint(false)
      // the sum action materializes the lazily-marked checkpoint as a side
      // effect: one fused job per round
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
    }
    (labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id")), rounds)
  }
}
