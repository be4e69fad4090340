package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Parity pins for the native hash60: the custom expression must produce
  * EXACTLY the built-in chain's value (and therefore the DuckDB oracle's) —
  * these are the constants every dedup/fingerprint oracle is built on.
  */
class Hash60Spec extends SparkTestBase {

  private val samples = Seq(
    "", "a", "hello world", "Pick n Pay", "™unicode✓", "0_63",
    "a" * 100, "", "13_February_-_15_February_2026")

  test("graft_hash60 equals conv(substring(md5(s),1,15),16,10) for all samples") {
    import spark.implicits._
    val rows = samples.toDF("s").select(
      expr("graft_hash60(s)").as("fast"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("builtin"),
      TextHash.hash60(col("s")).as("ctor"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // the Column constructor and the SQL name build the same expression
    rows.foreach(r => assert(r.getLong(2) === r.getLong(0)))
  }

  test("driver-side Hash60Util matches the expression (same code both paths)") {
    import spark.implicits._
    val viaSpark = samples.toDF("s")
      .select(expr("graft_hash60(s)")).collect().map(_.getLong(0))
    assert(viaSpark.toSeq === samples.map(Hash60Util.hash))
  }

  test("literal plane coefficients equal the in-plan md5 formulation they replaced") {
    import spark.implicits._
    (0 until 4).foreach { p =>
      val sqlCoefs = Seq(1).toDF("x").select(expr(
        s"transform(sequence(0, ${VectorLsh.Dim - 1}), d -> " +
          s"(CAST(conv(substring(md5(concat('${p}_', d)), 1, 15), 16, 10) AS BIGINT)" +
          s" % 2001 - 1000) / CAST(1000 AS DOUBLE))"))
        .collect()(0).getSeq[Double](0)
      assert(sqlCoefs === VectorLsh.planeCoefs(p).toSeq, s"plane $p diverged")
    }
  }
}
