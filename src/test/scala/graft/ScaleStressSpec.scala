package graft

import org.apache.spark.sql.functions._

import graft.queries.Temporal

/** Pins the scale-corpus replication contracts every SCALING.md curve
  * rests on. The generators promise EXACT output linearity — no
  * cross-replica duplicate pairs, no cross-replica temporal pairs, fact
  * replicas joining the same dimensions — and a violated contract would
  * silently bend a curve and mislead the whole study, so the contracts
  * get specs of their own (k=3 over the sf0.001 fixtures).
  */
class ScaleStressSpec extends SparkTestBase {

  private val K = 3
  private lazy val base = testData("0.001")

  private lazy val dir: String = {
    val d = scratch("scale-stress-spec")
    ScaleStress.generate(spark, base, d, K)
    ScaleStress.generateEvents(spark, base, d, K)
    ScaleStress.generateTpch(spark, base, d, K)
    d
  }

  private def rows(path: String): Long = spark.read.parquet(path).count()

  test("documents/embeddings/events/facts replicate exactly k-fold; dims verbatim") {
    assert(rows(s"$dir/documents.parquet") === K * rows(s"$base/documents.parquet"))
    assert(rows(s"$dir/embeddings.parquet") === K * rows(s"$base/embeddings.parquet"))
    assert(rows(s"$dir/events.parquet") === K * rows(s"$base/events.parquet"))
    assert(rows(s"$dir/orders.parquet") === K * rows(s"$base/orders.parquet"))
    assert(rows(s"$dir/lineitem.parquet") === K * rows(s"$base/lineitem.parquet"))
    Seq("customer", "supplier", "nation", "region", "part").foreach { t =>
      assert(rows(s"$dir/$t.parquet") === rows(s"$base/$t.parquet"), t)
    }
  }

  test("document replica 0 is the base corpus verbatim; ids never collide") {
    val scaled = spark.read.parquet(s"$dir/documents.parquet")
    val rep0 = scaled.filter(col("doc_id") < 1000000L)
      .select("doc_id", "text").orderBy("doc_id").collect()
    val orig = spark.read.parquet(s"$base/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").collect()
    assert(rep0.toSeq === orig.toSeq)
    assert(scaled.select("doc_id").distinct().count() === scaled.count())
  }

  test("no cross-replica temporal pairs: j1/j2 outputs are exactly k-fold") {
    val j1Base = Temporal.asofAttribution(spark, base).count()
    val j2Base = Temporal.rangeCorrelation(spark, base).count()
    assert(Temporal.asofAttribution(spark, dir).count() === K * j1Base)
    assert(Temporal.rangeCorrelation(spark, dir).count() === K * j2Base)
  }

  test("fact replicas join the same dimensions: integer q4 counts are k-fold") {
    val baseCounts = queries.Relational.orderPriorityCheck(spark, base)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scaledCounts = queries.Relational.orderPriorityCheck(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scaledCounts.keySet === baseCounts.keySet)
    baseCounts.foreach { case (p, n) =>
      assert(scaledCounts(p) === K * n, s"priority $p")
    }
  }

  test("every curve query resolves to a runner without running a job") {
    // a renamed or deleted query fails here, not hours into an x100 run;
    // the scale-adapted runners must also keep their registry name, since
    // the x10 oracle gate and the scale oracle look queries up by it
    val unresolved = ScaleStress.Queries.filter { q =>
      scala.util.Try(ScaleStress.fnFor(q, 1)).isFailure
    }
    assert(unresolved.isEmpty, s"curve queries with no runner: $unresolved")
    val unregistered = ScaleStress.Queries.filterNot(SparkEntry.queries.contains)
    assert(unregistered.isEmpty, s"curve queries missing from SparkEntry: $unregistered")
  }

  test("the d11/d6 tuning schedules are pinned at the measured anchor points") {
    assert(ScaleStress.d11Cells(1) === 8)
    assert(ScaleStress.d11Cells(10) === 25)
    assert(ScaleStress.d11Cells(100) === 80)
    assert(ScaleStress.d6Planes(1) === 4)
    assert(ScaleStress.d6Planes(10) === 7)
    assert(ScaleStress.d6Planes(100) === 11)
  }
}
