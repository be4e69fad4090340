package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.VectorIndex

/** d11 semantic dedup: the drop list is non-trivial on the fixture, every
  * drop is witnessed at or above the threshold, and the SURVIVOR invariant
  * holds — after removing the drop list, no two remaining vectors in the
  * same quantizer cell are within the threshold (the property a curation
  * pass actually relies on; cross-engine value equality is the d11 oracle's
  * job, this spec pins the semantics).
  */
class SemanticDedupSpec extends SparkTestBase {

  private lazy val sf = testData("0.001")

  test("d11 drop list is witnessed and survivors are pairwise below threshold") {
    val drops = Dedup.queries("d11_semantic_dedup")(spark, sf).collect()
    assert(drops.nonEmpty, "fixture produced no semantic drops — threshold untested")
    assert(drops.forall(_.getAs[Double]("max_cos") >= 0.45))

    // independent recompute of all within-cell cosines among SURVIVORS
    val dropIds = drops.map(_.getAs[Long]("vec_id")).toSet
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", sqrt(expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (s, x) -> s + x)")))
      .join(VectorIndex.semanticCells(spark, sf), Seq("vec_id"))
      .filter(!col("vec_id").isin(dropIds.toSeq: _*))
    val a = e.select(col("vec_id").as("id1"), col("v").as("v1"),
      col("norm").as("n1"), col("cell"))
    val b = e.select(col("vec_id").as("id2"), col("v").as("v2"),
      col("norm").as("n2"), col("cell"))
    val offenders = a.join(b, Seq("cell"))
      .filter(col("id2") < col("id1"))
      .withColumn("cos", round(
        expr("aggregate(zip_with(v1, v2, (x, y) -> x * y), 0D, (s, x) -> s + x)")
          / (col("n1") * col("n2")), 4))
      .filter(col("cos") >= 0.45)
      .count()
    assert(offenders === 0L,
      "two survivors in the same cell are within the semantic threshold")
  }
}
