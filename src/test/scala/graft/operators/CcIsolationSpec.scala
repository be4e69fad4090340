package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkTestBase

/** The connected-components loop tunes session conf (AQE off, loop-sized
  * shuffle.partitions) — in a CHILD session (`spark.newSession()`), so a
  * query planned concurrently on the caller's session can never inherit
  * the loop's settings. This spec races real parent-session plans against
  * a live loop and asserts the parent's conf and physical parallelism
  * never wobble — the concurrent-deployment guarantee the r5/r6 verdicts
  * tracked as "documented-unsafe", now structural.
  */
class CcIsolationSpec extends SparkTestBase {

  test("parent-session conf and plans are untouched by a concurrent CC loop") {
    import spark.implicits._
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")

    // a 4096-node chain: enough propagation rounds (path-halved ~12+) that
    // the loop is reliably still running while the probe thread plans
    // parent-session queries mid-flight
    val edges = (0 until 4095).map(i => (100000L + i + 1, 100000L + i))
    val started = new CountDownLatch(1)
    val ccF = Future {
      val df = edges.toDF("d1", "d2")
      started.countDown()
      ConnectedComponents.connectedComponentsWithRounds(df)
    }

    assert(started.await(30, TimeUnit.SECONDS), "loop never started")
    // Probe while the loop runs: the parent session must keep its own conf
    // AND produce plans with its own shuffle partitioning. Each probe plans
    // a fresh aggregate (planning reads the session conf, which is exactly
    // the leak channel the child session closes).
    val seen = mutable.Set.empty[(String, String, Int)]
    while (!ccF.isCompleted) {
      val probe = spark.range(0, 1000).groupBy($"id" % 7).count()
      val parts = probe.rdd.getNumPartitions
      seen += ((spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"), parts))
    }
    val (labels, rounds) = Await.result(ccF, 120.seconds)

    assert(seen.nonEmpty, "no probe ran while the loop was in flight")
    seen.foreach { case (aqe, parts, planParts) =>
      assert(aqe === aqeBefore, "AQE toggle leaked into the parent session")
      assert(parts === partsBefore,
        "loop shuffle.partitions leaked into the parent session")
      // AQE coalescing may shrink below the static setting, never above it
      assert(planParts <= partsBefore.toInt,
        s"parent plan used $planParts shuffle partitions (conf $partsBefore)")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqeBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === partsBefore)

    // the result itself is correct, executes on the PARENT session (it was
    // re-bound across the session boundary), and the chain converged in
    // halved rounds
    assert(labels.sparkSession eq spark)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 4096)
    assert(got.values.forall(_ == 100000L))
    assert(rounds <= 26, s"4096-chain took $rounds rounds — halving regressed")
  }
}
