package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DotProduct, Hash60, MinhashBands}

/** Library entry point for `spark.sql.extensions`: installs the graft
  * native expressions into every session built with
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * so `graft_dot`, `graft_hash60` & co resolve by name from plain SQL
  * text. This is the only place the names are registered: the DataFrame
  * API builds the same expressions directly through their Column
  * constructors (`VectorOps.dot`, `TextHash.hash60`,
  * `MinhashBands.bandsCol`), so library operators need no registration.
  * Also installs the [[graft.plans.RewriteIntervalJoin]] optimizer rule, which
  * turns naive `abs(a.ts - b.ts) <= w` inner joins written in plain SQL
  * into the bucketed equi-join shape instead of a nested-loop plan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.RewriteIntervalJoin)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      new FunctionIdentifier("graft_asof"),
      new ExpressionInfo(classOf[graft.plans.AsOfJoin.AsOfCondition].getName,
        "graft_asof"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.plans.AsOfJoin.fromSql(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "graft_hash60"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Hash60(exprs(0))))
    ext.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[graft.functions.TopKAgg].getName,
        "graft_topk"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.TopKAgg.fromSql(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_bands"),
      new ExpressionInfo(classOf[MinhashBands].getName, "graft_minhash_bands"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinhashBands(exprs(0))))
  }
}
