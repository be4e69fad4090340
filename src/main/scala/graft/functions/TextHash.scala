package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim

/** Deterministic content hashing shared by the dedup / similarity /
  * fingerprinting operators (extension tier — the reference's unused fuzzy
  * matching intent, reference `requirements.txt:13` pulls `thefuzz` but never
  * imports it; SURVEY §7.1 step 8).
  *
  * All hashes are built from md5 so every operator has an exact DuckDB
  * oracle: both engines hash the same UTF-8 bytes and parse the same 15-hex
  * prefix into the same non-negative 60-bit integer. Everything downstream
  * (minhash permutations, simhash bit sums, LSH band hashes) is pure integer
  * arithmetic on that value, so Spark and the oracle agree bit-for-bit.
  *
  * Each helper carries its DuckDB twin (`*Sql`) next to it; query modules
  * interpolate BOTH from the same constants so they cannot drift.
  */
object TextHash {

  /** 2^31 - 1, the classic Mersenne modulus for minhash permutations.
    * (a*h + b) stays under 2^62 for a,b,h < 2^31 — no Long overflow.
    */
  val P: Long = 2147483647L

  /** Fixed odd multipliers/offsets for the 16-permutation minhash family
    * h_i = (a_i * h + b_i) mod P. Primes below 2^31, chosen once; the DuckDB
    * oracle interpolates the same values.
    */
  val MinhashA: Seq[Long] = Seq(
    1610612741L, 805306457L, 402653189L, 201326611L,
    100663319L, 50331653L, 25165843L, 12582917L,
    6291469L, 3145739L, 1572869L, 786433L,
    393241L, 196613L, 98317L, 49157L)

  val MinhashB: Seq[Long] = Seq(
    2038074743L, 1020766849L, 512927377L, 268435399L,
    134217757L, 67108879L, 33554467L, 16777259L,
    8388617L, 4194319L, 2097169L, 1048583L,
    524309L, 262147L, 131101L, 65537L)

  /** Non-negative 60-bit hash of a column's UTF-8 bytes (first 15 hex chars
    * of md5), via the native codegen expression graft.functions.Hash60 —
    * same value as `conv(substring(md5(c),1,15),16,10)` without the per-call
    * hex-string/parse allocations. Builds the expression directly, so it
    * composes anywhere a Column does, higher-order-function lambdas
    * included; SQL text spells it `graft_hash60` (graft.GraftExtensions).
    */
  def hash60(c: Column): Column =
    ColumnShim.column(Hash60(ColumnShim.expression(c)))

  /** DuckDB twin of [[hash60]]; `x` is a SQL expression string. */
  def hash60Sql(x: String): String =
    s"CAST('0x' || substring(md5($x), 1, 15) AS BIGINT)"

  /** All length-k character shingles of a text column, as an array column.
    * Pure higher-order functions (sequence/transform) — no UDF, no shuffle.
    * The greatest(...,1) guard keeps the sequence ascending for short texts
    * (Spark's sequence(1,0) would count DOWN, DuckDB's returns empty).
    */
  def charShingles(textCol: String, k: Int): Column =
    expr(charShinglesExpr(textCol, k))

  /** [[charShingles]] as a SQL-expression string (composable inside other
    * higher-order expressions, e.g. a per-row min-hash without an explode).
    */
  def charShinglesExpr(textCol: String, k: Int): String =
    s"transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1)), " +
      s"i -> substring($textCol, i, $k))"

  /** DuckDB twin of [[charShingles]] (an unnest-ready list expression). */
  def charShinglesSql(textCol: String, k: Int): String =
    s"list_transform(generate_series(1, greatest(length($textCol) - ${k - 1}, 1)), " +
      s"i -> substring($textCol, i, $k))"

  /** All word n-grams of a string-array column, space-joined. try_element_at
    * past the end is null (plain element_at throws under Spark 4's default
    * ANSI mode) and concat_ws skips nulls, so texts shorter than n words
    * yield one partial gram — mirrored by DuckDB's clamped list slice.
    */
  def wordNgrams(tokensCol: String, n: Int): Column = {
    val parts = (0 until n).map(j => s"try_element_at($tokensCol, i + $j)").mkString(", ")
    expr(
      s"transform(sequence(1, greatest(size($tokensCol) - ${n - 1}, 1)), " +
        s"i -> concat_ws(' ', $parts))")
  }

  /** DuckDB twin of [[wordNgrams]]. */
  def wordNgramsSql(tokensCol: String, n: Int): String =
    s"list_transform(generate_series(1, greatest(len($tokensCol) - ${n - 1}, 1)), " +
      s"i -> array_to_string($tokensCol[i:i+${n - 1}], ' '))"
}
