package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.functions.TextHash.hash60

/** The shingle explode → `doc_id` shuffle → 16-min aggregate formulation
  * of MinHash band hashes that [[TextDedup.minhashBands]]' native per-row
  * pass replaced, kept as the reference the specs pin that pass
  * bit-identical to. One row per shingle
  * `hash60(substring(text, i, K)) % P` for i in 1..max(len-K+1, 1);
  * signature j = min over the doc's shingles of `(A_j*h + B_j) % P`;
  * band b = hash60 of its 4 signatures comma-joined. A null text emits no
  * bands (an all-null signature would concat_ws to "" and put every
  * null-text doc in the same 4 buckets).
  */
object MinhashBandsReference {
  import TextDedup.{Bands, NumPerms, ShingleK}

  private val RowsPerBand = NumPerms / Bands

  /** (doc_id, band, bh) for every non-null-text doc of a (doc_id, text) frame. */
  def apply(docs: DataFrame): DataFrame = {
    val h = docs.select("doc_id", "text")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(1, greatest(length(text) - ${ShingleK - 1}, 1))")).as("i"))
      .select(col("doc_id"),
        (hash60(expr(s"substring(text, i, $ShingleK)")) % TextHash.P).as("h"))
    val sigAggs = (0 until NumPerms).map { i =>
      min((lit(TextHash.MinhashA(i)) * col("h") + lit(TextHash.MinhashB(i))) % TextHash.P)
        .as(s"sig_$i")
    }
    val sigs = h.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val bandStructs = (0 until Bands).map { b =>
      val cat = (0 until RowsPerBand)
        .map(r => col(s"sig_${RowsPerBand * b + r}").cast("string"))
      struct(lit(b).as("band"), hash60(concat_ws(",", cat: _*)).as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bh").as("bh"))
  }
}
