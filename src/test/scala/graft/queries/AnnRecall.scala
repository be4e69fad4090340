package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Recall measurement shared by the ANN specs (AnnRecallSpec, PqSpec). */
object AnnRecall {

  /** Mean recall@k of an approximate ANN result against the exact
    * baseline: |approx ∩ exact|/|exact| over all queries. A real ANN
    * surface reports recall next to latency — n2/n4 hash-matching their
    * own definitions says nothing about how much of the TRUE top-k the
    * bucketing keeps; the specs assert floors on this number.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): Double = {
    val key = Seq("query_id", "neighbor_id")
    val hits = exact.select(key.map(col): _*)
      .join(approx.select(key.map(col): _*), key, "left_semi")
      .count().toDouble
    hits / exact.count().toDouble
  }
}
