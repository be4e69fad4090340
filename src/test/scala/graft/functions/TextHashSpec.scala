package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TextHashSpec extends SparkTestBase {

  test("hash60 is non-negative and stable") {
    import spark.implicits._
    val rows = Seq("", "a", "hello world").toDF("x")
      .select(TextHash.hash60(col("x")).as("h")).collect()
    rows.foreach(r => assert(r.getLong(0) >= 0))
    // stability pin: md5("a") starts 0cc175b9c0f1b6a8 -> first 15 hex digits
    assert(rows(1).getLong(0) === java.lang.Long.parseLong("0cc175b9c0f1b6a", 16))
  }

  test("MinhashBands.bandsCol and the SQL name graft_minhash_bands agree") {
    import spark.implicits._
    val rows = Seq(Some(""), Some("abc"), Some("Pick n Pay specials ™✓"),
        Some("the quick brown fox jumps over the lazy dog" * 3), None).toDF("t")
      .select(MinhashBands.bandsCol(col("t")), expr("graft_minhash_bands(t)"))
      .collect()
    assert(rows.length === 5)
    rows.foreach(r => assert(r.get(0) === r.get(1)))
    assert(rows.head.getSeq[Long](0).length === graft.operators.TextDedup.Bands)
    assert(rows.last.isNullAt(0), "null in, null out")
  }

  test("charShingles of short text yields one (whole-text) shingle") {
    import spark.implicits._
    val gs = Seq("abc").toDF("t")
      .select(TextHash.charShingles("t", 8)).collect()(0).getSeq[String](0)
    assert(gs === Seq("abc"))
  }

  test("wordNgrams on arrays shorter than n does not throw under ANSI and yields a partial gram") {
    import spark.implicits._
    // regression: element_at past the end throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    // under Spark 4 ANSI; try_element_at must make this a partial gram instead
    val gs = Seq("one two").toDF("x")
      .select(split(col("x"), " ").as("t"))
      .select(TextHash.wordNgrams("t", 3)).collect()(0).getSeq[String](0)
    assert(gs === Seq("one two"))
  }

  test("wordNgrams of a 4-token text gives 2 trigrams") {
    import spark.implicits._
    val gs = Seq("a b c d").toDF("x")
      .select(split(col("x"), " ").as("t"))
      .select(TextHash.wordNgrams("t", 3)).collect()(0).getSeq[String](0)
    assert(gs === Seq("a b c", "b c d"))
  }
}
