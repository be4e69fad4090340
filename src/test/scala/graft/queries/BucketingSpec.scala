package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Bucketed co-located joins — the pre-shuffle trick for repeated fact-fact
  * joins at scale: both tables bucketed on the join key join WITHOUT any
  * exchange (each bucket pair joins in place). This is the "bucketing for
  * co-located joins" leg of the scale design; the big-join queries use
  * plain shuffles because they join ad-hoc parquet, but a real deployment
  * would bucket the lake's fact tables exactly like this.
  */
class BucketingSpec extends SparkTestBase {

  private lazy val sf = testData("0.001")

  test("bucketed fact tables join with zero exchanges and match the shuffle join") {
    // both confs are restored to what the shared session had, so suites
    // that run after this one plan under the same posture as those before
    val confs = Map(
      "spark.sql.sources.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // no broadcast: force the bucketed join
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    try {
      Seq("orders_b" -> "orders", "lineitem_b" -> "lineitem").foreach {
        case (tbl, src) =>
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          graft.core.FsUtil.deleteRecursively(
            new org.apache.hadoop.fs.Path(warehouse, tbl).toUri.getPath)
          val keyCol = if (src == "orders") "o_orderkey" else "l_orderkey"
          spark.read.parquet(s"$sf/$src.parquet")
            .write.bucketBy(8, keyCol).sortBy(keyCol)
            .format("parquet").saveAsTable(tbl)
      }
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(round(sum("l_quantity"), 2).as("qty"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-located: the join itself must not shuffle either side
      val joinSection = plan.split("HashAggregate").last
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
        !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still exchanges:\n$plan")
      // and the result equals the plain shuffle join over the same parquet
      val expected = spark.read.parquet(s"$sf/lineitem.parquet")
        .join(spark.read.parquet(s"$sf/orders.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(round(sum("l_quantity"), 2).as("qty"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got === expected)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
