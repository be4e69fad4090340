package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Exercises the generic operator APIs on caller-shaped frames (synthetic,
  * NOT the fixture tables) — the paths the oracle gate never sees: odd
  * column orders, extra columns the caller forgot to drop, thresholds
  * other than the fixture query's, and bucketings the engine didn't
  * choose. The fixture bindings (d1/d2/n1/n2) stay pinned by DuckDB; this
  * pins that the operators are genuinely generic.
  */
class OperatorApiSpec extends SparkTestBase {

  test("TextDedup.exactGroups: keep-first groups on any (doc_id, text) frame") {
    import spark.implicits._
    val docs = Seq(
      (10L, "alpha"), (7L, "alpha"), (3L, "beta"),
      (4L, "alpha"), (9L, "beta"), (5L, "gamma"))
      .toDF("doc_id", "text").repartition(5)
    val got = TextDedup.exactGroups(docs)
      .select("keep_doc_id", "n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((4L, 3L), (3L, 2L), (5L, 1L)))
  }

  test("TextDedup.minhashPairs: exact duplicates always pair at jaccard 1.0; threshold dials candidates") {
    import spark.implicits._
    // long-ish texts so 8-char shingle sets are meaningful; 1<->3 identical
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (3L, base),
      (5L, base + " with a small difference at the end of it"),
      (9L, "a completely unrelated document about spark aggregation plans"))
      .toDF("doc_id", "text")
    val strict = TextDedup.minhashPairs(docs, threshold = 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(strict.toSeq === Seq((1L, 3L, 1.0)))
    // a permissive threshold may only ADD pairs, never lose the exact one
    val loose = TextDedup.minhashPairs(docs, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.contains((1L, 3L)))
    assert(!loose.exists { case (a, b) => a == 9L || b == 9L },
      "the unrelated doc must never pair")
  }

  test("TextDedup.nearDupVerdicts: earlier doc survives, later twins flag, on a caller-shaped frame") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (20L, base, "extra"), (4L, base, "cols"),
      (9L, "a completely unrelated document about spark aggregation plans", "x"),
      (15L, base, "ignored"))
      .toDF("doc_id", "text", "junk").repartition(3)
    val got = TextDedup.nearDupVerdicts(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // doc 4 is the smallest id of the identical trio: it survives; 15 and
    // 20 flag on all 4 bands; the unrelated doc flags nowhere
    assert(got(4L) === ((0, 0L)))
    assert(got(15L) === ((1, 4L)))
    assert(got(20L) === ((1, 4L)))
    assert(got(9L) === ((0, 0L)))
  }

  test("TextDedup.minhashBandsInRow: keep columns pass through, bands match the aggregate path") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "k1"),
      (2L, "totally different content with other words inside", "k2"))
      .toDF("doc_id", "text", "tag")
    val inRow = TextDedup.minhashBandsInRow(docs, keep = Seq("tag"))
    assert(inRow.columns.toSeq === Seq("doc_id", "tag", "band", "bh"))
    val a = inRow.select("doc_id", "band", "bh").orderBy("doc_id", "band").collect()
    val b = TextDedup.minhashBandsAgg(docs).orderBy("doc_id", "band").collect()
    assert(a.toSeq === b.toSeq)
    // the kept column rides every band row of its doc
    assert(inRow.filter(col("doc_id") === 1L).select("tag").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("k1"))
  }

  test("TextDedup.crossCorpusPairs: train docs pair with the eval docs they near-duplicate, never train-with-train") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val train = Seq(
      (101L, base),                 // exact copy of eval 7
      (102L, base),                 // also a copy — must NOT pair with 101
      (103L, base + " with a small difference appended at the end of it"),
      (104L, "a completely unrelated document about spark aggregation plans"))
      .toDF("doc_id", "text").repartition(3)
    val eval = Seq(
      (7L, base),
      (8L, "another benchmark item that matches nothing in the training set"))
      .toDF("doc_id", "text")
    val exact = TextDedup.crossCorpusPairs(train, eval, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact === Set((101L, 7L, 1.0), (102L, 7L, 1.0)))
    val loose = TextDedup.crossCorpusPairs(train, eval, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.contains((101L, 7L)) && loose.contains((102L, 7L)))
    assert(!loose.exists(_._2 == 8L), "the unmatched eval doc must stay clean")
    assert(!loose.exists(p => p._1 == 104L),
      "the unrelated train doc must never pair")
  }

  test("TextDedup.crossCorpusPairs: recall 1.0 vs brute force on the sf0.01 fixture at threshold 0.8") {
    // The DuckDB oracle shares the band pipeline, so the gate proves
    // engine parity but NOT recall — this does: an all-pairs exact-Jaccard
    // sweep (fine at 450x50 test scale, never in the operator) must find
    // exactly the pairs the banded operator finds. 16 perms / 4 bands has
    // P(no band collision) < 1e-4 at j >= 0.92, where all fixture pairs
    // live; a missed pair fails loudly here.
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables(spark, testData("0.01")).documents
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 10 === 0)
    def sets(df: org.apache.spark.sql.DataFrame, idc: String) = df.select(
      col("doc_id").as(idc),
      expr(s"array_distinct(${graft.functions.TextHash.charShinglesExpr("text", TextDedup.ShingleK)})").as(s"g_$idc"))
    val brute = sets(train, "t").crossJoin(sets(eval, "e"))
      .withColumn("inter", size(array_intersect(col("g_t"), col("g_e"))))
      .withColumn("j", round(col("inter").cast("double") /
        (size(col("g_t")) + size(col("g_e")) - col("inter")), 4))
      .filter(col("j") >= 0.8)
      .select(col("t"), col("e"), col("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = TextDedup.crossCorpusPairs(train, eval, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "fixture must exercise the non-empty path")
    assert(banded === brute)
  }

  test("TextDedup.incrementalVerdicts: folding monotone batches equals the one-shot batch verdicts") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "a completely unrelated document about spark aggregation plans"
    val all = Seq(
      (1L, base), (2L, other), (3L, base + " plus a tail"),
      (11L, base),                       // batch 2: dup of batch-1 doc 1
      (12L, "fresh content that matches nothing else in any batch here"),
      (21L, other), (22L, base))        // batch 3: dups across both batches
      .toDF("doc_id", "text")
    val batches = Seq(
      all.filter(col("doc_id") <= 10),
      all.filter(col("doc_id") > 10 && col("doc_id") <= 20),
      all.filter(col("doc_id") > 20))
    var ledger = TextDedup.emptyNearDupLedger(spark)
    val vs = batches.map { b =>
      val (v, next) = TextDedup.incrementalVerdicts(b, ledger)
      ledger = next.localCheckpoint()
      v
    }
    val inc = vs.reduce(_ unionByName _).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val oneShot = TextDedup.nearDupVerdicts(all).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(inc.toSeq === oneShot.toSeq)
    // the cross-batch flags specifically: 11 and 22 dup batch-1's doc 1
    val m = inc.map(t => t._1 -> t._2).toMap
    assert(m(11L) === 1 && m(22L) === 1 && m(21L) === 1)
    assert(m(1L) === 0 && m(2L) === 0 && m(12L) === 0)
    // ledger minima are global: every bucket of doc 1's bands still maps
    // to min_doc_id 1 after three folds, untouched buckets survive
    val ledgerMap = ledger.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ledgerMap.values.min === 1L)
    assert(ledgerMap.values.toSet.contains(2L), "doc 2's buckets survive untouched")
  }

  test("TextDedup.incrementalVerdictsFromBands: rejects bands that are not (doc_id: long, band: int, bh: long)") {
    import spark.implicits._
    val ledger = TextDedup.emptyNearDupLedger(spark)
    val intIds = Seq((1, 0, 7L)).toDF("doc_id", "band", "bh")
    val e = intercept[IllegalArgumentException] {
      TextDedup.incrementalVerdictsFromBands(intIds, ledger)
    }
    assert(e.getMessage.contains("doc_id:int"), e.getMessage)
    val longBands = Seq((1L, 0L, 7L)).toDF("doc_id", "band", "bh")
    intercept[IllegalArgumentException] {
      TextDedup.incrementalVerdictsFromBands(longBands, ledger)
    }
  }

  test("Dedup.ingestStep: a ledger whose band is widened to long fails instead of truncating") {
    import spark.implicits._
    val batch = Seq((1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text")
    val ledger = TextDedup.emptyNearDupLedger(spark)
    val (v, next) = graft.queries.Dedup.ingestStep(batch, ledger)
    assert(v.orderBy("doc_id").collect().map(_.getInt(1)).toSeq === Seq(0, 1))
    assert(next.schema.simpleString === ledger.schema.simpleString)
    val widened = ledger.withColumn("band", col("band").cast("long"))
    val e = intercept[IllegalArgumentException] {
      graft.queries.Dedup.ingestStep(batch, widened)
    }
    assert(e.getMessage.contains("band:bigint"), e.getMessage)
  }

  test("VectorSearch.cosineTopK: ranks by exact cosine with id tiebreak, excludes self") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Array(1.0, 0.0)),   // query
      (1L, Array(2.0, 0.0)),   // cos 1.0 (scale-invariant)
      (2L, Array(1.0, 1.0)),   // cos ~0.7071
      (3L, Array(0.0, 1.0)),   // cos 0.0
      (4L, Array(-1.0, 0.0)))  // cos -1.0
      .toDF("id", "v")
    val got = VectorSearch.cosineTopK(corpus.filter(col("id") === 0L), corpus, 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 1L, 1.0), (2L, 2L, 0.7071), (3L, 3L, 0.0)))
  }

  test("TextDedup: null-text docs emit zero bands on BOTH band paths") {
    import spark.implicits._
    // the batch aggregate used to turn a null-text doc's all-null signature
    // into concat_ws("") bands, making every null-text doc a mutual
    // near-dup — while the in-row expression path emitted nothing, so the
    // batch and streaming twins silently disagreed on the same corpus
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, null: String), (3L, null: String)).toDF("doc_id", "text")
    assert(TextDedup.minhashBandsAgg(docs)
      .filter(col("doc_id") =!= 1L).count() === 0L,
      "batch band path emitted bands for null text")
    assert(TextDedup.minhashBandsInRow(docs)
      .filter(col("doc_id") =!= 1L).count() === 0L)
    assert(TextDedup.minhashBandsAgg(docs)
      .filter(col("doc_id") === 1L).count() === 4L,
      "real docs must still band on the batch path")
  }

  test("VectorSearch: zero-norm vectors are excluded, never NaN-ranked first") {
    import spark.implicits._
    // without the norm filter, the zero corpus vector scores 0/0 = NaN
    // against every query, and desc ordering puts NaN FIRST — it would
    // silently outrank every real neighbor
    val corpus = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(0.0, 0.0)),  // zero vector: cosine undefined
      (2L, Array(1.0, 1.0)),
      (3L, Array(0.0, 1.0)))
      .toDF("id", "v")
    val got = VectorSearch.cosineTopK(corpus.filter(col("id") === 0L), corpus, 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 2L, 0.7071), (2L, 3L, 0.0)),
      "zero vector must not appear in the ranking")
    // a zero-norm QUERY returns no rows rather than NaN scores
    assert(VectorSearch.cosineTopK(corpus.filter(col("id") === 1L), corpus, 2)
      .collect().isEmpty)
    // a NaN COMPONENT gives a NaN norm, and Spark orders NaN above every
    // number — `norm > 0` alone admits it and its NaN cosine ranks first
    val nanCorpus = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(Double.NaN, 1.0)),
      (2L, Array(1.0, 1.0)))
      .toDF("id", "v")
    val nanGot = VectorSearch
      .cosineTopK(nanCorpus.filter(col("id") === 0L), nanCorpus, 2)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(nanGot === Set(2L), "NaN-component vector must not rank")
  }

  test("VectorSearch.cosineTopKBucketed: candidates never cross buckets") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Array(1.0, 0.0), "a"),
      (1L, Array(0.9, 0.1), "a"),
      (2L, Array(1.0, 0.01), "b")) // nearest overall, but other bucket
      .toDF("id", "v", "bucket")
    val got = VectorSearch
      .cosineTopKBucketed(corpus.filter(col("id") === 0L), corpus, 5)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(got === Set(1L), "bucketed search must not see other buckets")
  }

  test("CorpusDrift.report: per-dim counts with absences as zero on either side") {
    import spark.implicits._
    val old = Seq(("en", 50), ("en", 150), ("fr", 50))
      .toDF("lang", "n_chars")
    val next = Seq(("en", 50), ("de", 250))
      .toDF("lang", "n_chars")
    val got = CorpusDrift.report(old, next, Seq(
      "lang" -> col("lang"),
      "len_x100" -> expr("n_chars DIV 100")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      ("lang", "en") -> (2L, 1L),
      ("lang", "fr") -> (1L, 0L), // vanished language: zero on the new side
      ("lang", "de") -> (0L, 1L), // new language: zero on the old side
      ("len_x100", "0") -> (2L, 1L),
      ("len_x100", "1") -> (1L, 0L),
      ("len_x100", "2") -> (0L, 1L)))
  }

  test("CorpusDrift.report: a both-sides-NULL value is one key, not a vanish+appear pair") {
    import spark.implicits._
    // plain equi full-outer split the NULL value into (n, 0) + (0, n),
    // firing a false 'vanished' AND a false 'appeared' alert for a
    // dimension that did not drift
    val old = Seq((Option.empty[String], 10), (Some("en"), 20))
      .toDF("lang", "n_chars")
    val next = Seq((Option.empty[String], 10), (Option.empty[String], 30))
      .toDF("lang", "n_chars")
    val got = CorpusDrift.report(old, next, Seq("lang" -> col("lang")))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1))) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      ("lang", None) -> (1L, 2L),
      ("lang", Some("en")) -> (1L, 0L)), s"wrong drift rows: $got")
  }

  test("CorpusDiff.diff: added/removed/modified only — unchanged rows never surface") {
    import spark.implicits._
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text").repartition(3)
    val next = Seq((1L, "same"), (2L, "changed"), (4L, "brand new"))
      .toDF("doc_id", "text").repartition(2)
    val got = CorpusDiff.diff(old, next).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(2L -> "modified", 3L -> "removed", 4L -> "added"))
  }
}
