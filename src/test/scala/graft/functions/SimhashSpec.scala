package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

/** Value pins for the native per-row SimHash: it must give exactly the
  * signatures of the explode → hash60 → 60 ±1-sum aggregate formulation it
  * replaced (kept below as the reference, which is also the shape of the
  * DuckDB twin `Dedup.simhashSigsSql`), on the fixture corpus and on the
  * edge rows the fixtures lack.
  */
class SimhashSpec extends SparkTestBase {

  private val Bits = SimhashUtil.Bits

  /** The replaced formulation, verbatim: one row per space-split token,
    * grouped by doc_id, bit j set iff its ±1 sum is positive.
    */
  private def reference(docs: DataFrame): Map[Long, Long] = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val h = toks.select(col("doc_id"), TextHash.hash60(col("tok")).as("h"))
    val bitAggs = (0 until Bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"bs_$j")
    }
    val bs = h.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val sim = (0 until Bits)
      .map(j => when(col(s"bs_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    toMap(bs.select(col("doc_id"), sim.as("simhash")))
  }

  private def native(docs: DataFrame): Map[Long, Long] =
    toMap(docs.filter(col("text").isNotNull)
      .select(col("doc_id"), Simhash.simhashCol(col("text")).as("simhash")))

  private def toMap(df: DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length === rows.length, "one signature per doc_id")
    rows.toMap
  }

  // an RDD-backed frame, not a local relation, so the native column runs
  // through whole-stage codegen rather than being folded by the optimizer
  private def edgeDocs(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 2)
      .toDF("doc_id", "text")
  }

  private val longText =
    (0 until 4000).map(i => s"tok${i % 97}_${i % 13}").mkString(" ")

  private val edgeTexts = Seq(
    null, "", " ", "  ", "a", " a", "a ", "a  b", "  a b  ",
    "Pick n Pay ™specials✓ — café", "naïve 日本語 テキスト ok",
    "a b", "x y z w", "same same same same", longText)

  test("native signature equals the explode/60-sum reference on the sf0.01 documents") {
    val docs = graft.core.Tables(spark, testData("0.01")).documents.select("doc_id", "text")
    val want = reference(docs)
    val got = native(docs)
    assert(got.size === docs.filter(col("text").isNotNull).count())
    assert(got.size > 100, "fixture corpus unexpectedly small")
    assert(got === want)
  }

  test("edge rows: null, empty tokens, multi-byte UTF-8, ties and a long text match the reference") {
    val docs = edgeDocs(edgeTexts)
    val got = native(docs)
    assert(got === reference(docs))
    assert(!got.contains(0L), "null text yields no row")
    assert(got.size === edgeTexts.length - 1)
  }

  test("empty tokens count and a tie clears the bit") {
    def h(t: String) = Hash60Util.hash(t)
    def sig(t: String) = SimhashUtil.simhash(UTF8String.fromString(t))
    // "" is one empty token, so its signature is that token's hash
    assert(sig("") === h(""))
    assert(sig("abc") === h("abc"))
    // two tokens: every bit is a tie or unanimous, so the signature is
    // exactly the bits both hashes share
    assert(sig("a b") === (h("a") & h("b")))
    // " a" and "a " are the tokens {"", "a"}: a doubled or edge space is
    // a token, not a separator run
    assert(sig(" a") === (h("") & h("a")))
    assert(sig("a ") === sig(" a"))
    // three tokens {"a", "", "b"}: a bit is set iff at least two agree
    val (x, y, z) = (h("a"), h(""), h("b"))
    assert(sig("a  b") === ((x & y) | (x & z) | (y & z)))
    assert(sig("a  b") < (1L << Bits))
  }

  test("interpreted eval equals the codegen'd column, and null in is null out") {
    val viaPlan = native(edgeDocs(edgeTexts))
    edgeTexts.zipWithIndex.filter(_._1 != null).foreach { case (t, i) =>
      assert(Simhash(Literal(UTF8String.fromString(t))).eval(null) === viaPlan(i.toLong), t)
    }
    assert(Simhash(Literal.create(null, org.apache.spark.sql.types.StringType)).eval(null) === null)
  }

  test("the slice hash equals the first 15 hex digits of the slice's md5") {
    val bytes = "naïve ™x✓ 日本".getBytes("UTF-8")
    val md = java.security.MessageDigest.getInstance("MD5")
    for (from <- 0 to bytes.length; len <- 0 to bytes.length - from) {
      val d = md.digest(java.util.Arrays.copyOfRange(bytes, from, from + len))
      val hex15 = d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15)
      assert(Hash60Util.hash(bytes, from, len) === java.lang.Long.parseLong(hex15, 16),
        s"[$from, +$len)")
    }
  }
}
