package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextHash.hash60Sql

/** Random-hyperplane LSH bucketing shared by the similarity (n2) and
  * embedding-dedup (d6) operators — the scale path for vector pairing:
  * instead of an all-pairs theta join, vectors meet only inside their
  * bucket, an equi-join that shuffles O(n) rows on a small integer key.
  *
  * Hyperplane coefficients are derived from md5 so the DuckDB oracle
  * reproduces the buckets exactly (same constants, same arithmetic).
  */
object VectorLsh {

  val Dim = 64       // embedding dimensionality (TESTDATA embeddings table)

  /** Hyperplane count = log2(bucket count) — the recall/cost dial. 4 (16
    * buckets) is sized for the synthetic corpus (~125 vectors/bucket); the
    * within-bucket self-join in d6 is quadratic PER BUCKET, so production
    * sizing is planes ≈ log2(n / target_bucket_size) — e.g. 1B vectors at
    * ~1k/bucket wants ~20 planes. Callers that size the dial pass it
    * explicitly ([[bucketColFor]], `Dedup.embeddingNearDup`); the DuckDB
    * oracle interpolates the same value, so parity holds at any setting.
    */
  val NumPlanes: Int = 4

  /** Deterministic pseudo-random hyperplane coefficient array for plane p:
    * coef[d] = (hash60("p_d") mod 2001 - 1000) / 1000 ∈ [-1, 1].
    * Computed ON THE DRIVER at plan-build time — the values are constants,
    * and the previous in-plan md5 formulation was NOT constant-folded by
    * Catalyst, silently re-hashing Dim x NumPlanes strings per ROW.
    */
  def planeCoefs(p: Int): Array[Double] =
    Array.tabulate(Dim) { d =>
      (Hash60Util.hash(s"${p}_$d") % 2001 - 1000) / 1000.0
    }

  private def planeCoefsSql(p: Int): String =
    s"list_transform(generate_series(0, ${Dim - 1}), d -> " +
      s"(${hash60Sql(s"'${p}_' || CAST(d AS VARCHAR)")} % 2001 - 1000) / CAST(1000 AS DOUBLE))"

  /** Bucket id = sign bits of the dot products against the fixed planes,
    * over a double-array column named `v`. Uses the native dot product
    * ([[VectorOps.dot]]) against literal coefficient arrays.
    * The plane-count parameter is the production sizing dial documented on
    * [[NumPlanes]]; ScaleStress drives it as planes ≈ NumPlanes + log2(k)
    * so bucket occupancy stays constant while the corpus grows.
    */
  def bucketColFor(planes: Int): Column =
    (0 until planes).map { p =>
      val coefs = array(planeCoefs(p).map(lit(_)): _*)
      val dot = VectorOps.dot(col("v"), coefs)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def bucketCol: Column = bucketColFor(NumPlanes)

  /** DuckDB twin of [[bucketColFor]] (expects a list column named `v`). */
  def bucketSqlFor(planes: Int): String =
    (0 until planes).map { p =>
      s"(CASE WHEN list_sum(list_transform(generate_series(1, $Dim), " +
        s"i -> v[i] * (${planeCoefsSql(p)})[i])) >= 0 " +
        s"THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")

  def bucketSql: String = bucketSqlFor(NumPlanes)
}
