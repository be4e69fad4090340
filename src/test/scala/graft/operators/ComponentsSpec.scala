package graft.operators

import graft.SparkTestBase

/** Connected components (the d9 clustering core) on hand-built graphs where
  * the expected partition is known by eye — including a long chain, which
  * forces multiple propagation rounds and so exercises the path-halving
  * step (a single-round bug would pass on star graphs alone).
  */
class ComponentsSpec extends SparkTestBase {

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.connectedComponents(edges.toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain, triangle, and pair resolve to their component minima") {
    // 16-node chain declared high-to-low: the min (100) sits at one end,
    // maximal propagation distance from most nodes
    val edges = (0 until 15).map(i => (100L + i + 1, 100L + i)) ++
      Seq((7L, 8L), (8L, 9L), (7L, 9L), // triangle
        (3L, 4L))                       // isolated pair
    val got = cc(edges)
    (100L to 115L).foreach(n => assert(got(n) === 100L, s"chain node $n"))
    Seq(7L, 8L, 9L).foreach(n => assert(got(n) === 7L))
    assert(got(3L) === 3L && got(4L) === 3L)
    assert(got.size === 21)
  }

  test("empty edge list yields an empty cluster frame, not a crash") {
    // a clean corpus produces zero near-dup pairs — d9/t14 must degrade
    // to "no clusters" (t14 then marks every doc keep-or-other-reason)
    assert(cc(Seq.empty).isEmpty)
  }

  test("a long chain converges in O(log diameter) rounds, not O(diameter)") {
    import spark.implicits._
    // 128-node chain with the min at one end: plain hash-min label
    // propagation needs ~127 rounds; path halving must land well under
    // 2*log2(127)+slack. A regression to linear convergence (e.g. losing
    // the pointer-jump join) blows this bound by an order of magnitude.
    val edges = (0 until 127).map(i => (1000L + i + 1, 1000L + i))
    val (labels, rounds) =
      ConnectedComponents.connectedComponentsWithRounds(edges.toDF("d1", "d2"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1000L to 1127L).foreach(n => assert(got(n) === 1000L, s"chain node $n"))
    assert(rounds <= 20, s"128-chain took $rounds rounds — halving regressed")
  }

  test("bridging edge merges two components") {
    val before = cc(Seq((1L, 2L), (10L, 11L)))
    assert(before(10L) === 10L)
    val after = cc(Seq((1L, 2L), (10L, 11L), (2L, 10L)))
    assert(Seq(1L, 2L, 10L, 11L).forall(after(_) == 1L))
  }
}
