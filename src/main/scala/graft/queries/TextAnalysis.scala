package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextHash
import graft.functions.TextHash.{hash60, hash60Sql}

/** Text-analysis surface for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting (extension tier,
  * SURVEY §7.1 step 8). All pure column expressions over the documents
  * table — single scan, no UDFs, shuffle only where an aggregate needs one.
  */
object TextAnalysis {

  /** Tiny per-language marker-word sets for the n-gram/stopword heuristic.
    * Deliberately small — the POINT is the argmax-of-ratios mechanism; a
    * production list is a config swap.
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "et", "de", "un"),
    "es" -> Seq("el", "los", "y", "de", "un"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "zh" -> Seq("de", "le", "he", "shi", "zai"))

  /** Language ID: ratio of marker words per language, argmax with a fixed
    * preference order on ties (seq order above). Scores are exact rationals
    * (int count / int total) so Spark and DuckDB tie-break identically.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))
    val scored = Markers.foldLeft(toks) { case (df, (l, ws)) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      df.withColumn(s"c_$l", expr(s"size(filter(t, x -> x IN ($inList)))").cast("long"))
    }
    // argmax by marker count, ties resolved by Markers order
    val pred = Markers.map(_._1).reverse
      .foldLeft(lit("und")) { case (acc, l) =>
        when(col(s"c_$l") > 0 &&
          col(s"c_$l") >= greatest(Markers.map(m => col(s"c_${m._1}")): _*), lit(l))
          .otherwise(acc)
      }
    val outCols = Seq(col("doc_id"), col("lang"), pred.as("pred_lang"), col("n_tok")) ++
      Markers.map(m => col(s"c_${m._1}"))
    scored.select(outCols: _*).orderBy("doc_id")
  }

  val langIdSql: String = {
    val counts = Markers.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(t, x -> x IN ($inList))) AS BIGINT) AS c_$l"
    }.mkString(",\n    ")
    // CASE evaluated in Markers order = first maximal wins, matching Spark's
    // reverse fold (later whens overwrite earlier accumulator values).
    val pred = Markers.map { case (l, _) =>
      val geAll = Markers.map(m => s"c_$l >= c_${m._1}").mkString(" AND ")
      s"WHEN c_$l > 0 AND $geAll THEN '$l'"
    }.mkString("\n      ")
    val cCols = Markers.map(m => s"c_${m._1}").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       |scored AS (
       |  SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tok,
       |    $counts
       |  FROM toks)
       |SELECT doc_id, lang,
       |  CASE $pred ELSE 'und' END AS pred_lang,
       |  n_tok, $cCols
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  /** Quality scoring: length / punctuation / stopword-ratio / mean-word-len
    * features + a composite keep/drop signal, the standard pre-training
    * filter shape.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "is", "to", "in")
      .map(w => s"'$w'").mkString(", ")
    Tables(spark, dir).documents
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("stop_ratio",
        round(expr(s"size(filter(t, x -> x IN ($stop)))").cast("double") / col("n_tok"), 4))
      .withColumn("punct_ratio",
        round((length(col("text")) -
          length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))).cast("double") /
          col("n_chars"), 4))
      .withColumn("mean_word_len",
        round((col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok"), 4))
      .withColumn("keep",
        (col("n_tok") >= 10) && (col("stop_ratio") <= 0.5) && (col("mean_word_len") <= 12.0))
      .select("doc_id", "n_chars", "n_tok", "stop_ratio", "punct_ratio",
        "mean_word_len", "keep")
      .orderBy("doc_id")
  }

  val qualityScoreSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the', 'a', 'of', 'and', 'is', 'to', 'in'))) AS DOUBLE) AS n_stop,
      |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct
      |  FROM documents)
      |SELECT doc_id, n_chars, n_tok,
      |  round(n_stop / n_tok, 4) AS stop_ratio,
      |  round(n_punct / n_chars, 4) AS punct_ratio,
      |  round(CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok, 4) AS mean_word_len,
      |  (n_tok >= 10 AND round(n_stop / n_tok, 4) <= 0.5
      |    AND round(CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok, 4) <= 12.0) AS keep
      |FROM f
      |ORDER BY doc_id""".stripMargin

  /** Token counting: whitespace tokens, BPE-ish regex tokens (letter runs /
    * digit runs / single other chars), distinct tokens.
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"),
        expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)").as("bpe"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("ws_tokens"),
        size(col("bpe")).cast("long").as("bpe_tokens"),
        size(array_distinct(col("t"))).cast("long").as("distinct_tokens"))
      .orderBy("doc_id")

  val tokenCountsSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Document fingerprint: min-hash over char-8-gram hashes (winnowing-lite).
    * Near-identical docs collide on the fingerprint, so grouping by it gives
    * cheap first-pass dup clusters — one BIGINT per document at scale.
    *
    * Computed as a pure per-row projection (array_min over a transform) —
    * no explode: the old explode→groupBy formulation shuffled one row PER
    * SHINGLE (~|text| rows/doc); the only movement here is one narrow
    * per-DOC spread for core parallelism (Tables.spread).
    * Shared by t4 (the projection itself) and t5 (a tiny group-by over it).
    */
  private def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    // spread the narrow (doc_id, text) projection first: the md5-per-shingle
    // work is the cost, and a single-split scan would run it on one core
    Tables.spread(Tables(spark, dir).documents.select("doc_id", "text")).select(
      col("doc_id"),
      array_min(transform(TextHash.charShingles("text", 8), g => hash60(g)))
        .as("fp"))
      // cache the narrow (doc_id, fp) frame: the downstream ORDER BY's
      // range-partitioner sampling job otherwise re-executes the md5-heavy
      // projection a second time (measured 2x). Two longs per document —
      // negligible storage at any scale.
      .cache()
  }

  private val fingerprintsSql: String =
    s"""SELECT doc_id,
       |  list_min(list_transform(${TextHash.charShinglesSql("text", 8)},
       |    g -> ${hash60Sql("g")})) AS fp
       |FROM documents""".stripMargin

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprints(spark, dir).orderBy("doc_id")

  val fingerprintSql: String =
    s"""SELECT doc_id, fp FROM ($fingerprintsSql)
       |ORDER BY doc_id""".stripMargin

  /** Fingerprint dup clusters: fingerprints shared by >1 document. */
  def fingerprintClusters(spark: SparkSession, dir: String): DataFrame =
    fingerprints(spark, dir)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("fp")

  val fingerprintClustersSql: String =
    s"""SELECT fp, count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM ($fingerprintsSql)
       |GROUP BY fp
       |HAVING count(*) > 1
       |ORDER BY fp""".stripMargin

  /** Corpus stats by source — the monitoring rollup every pipeline needs. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        round(avg(length(col("text"))), 4).as("avg_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("source", "lang")

  val corpusStatsSql: String =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
      |  round(avg(length(text)), 4) AS avg_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  /** TF-IDF top terms per document — the inverted-index shape every corpus
    * pipeline builds: term frequencies per doc, document frequencies per
    * term, smoothed idf (ln((N+1)/(df+1)) + 1), top-3 terms by score.
    * All equi-joins on the term; the corpus count joins in as a broadcast
    * 1-row frame so the plan stays fully declarative (no driver action).
    * Ranking uses the ROUNDED score with a term tie-break, the cross-engine
    * determinism contract.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir).documents
    val toks = Tables.spread(docs.select("doc_id", "text"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // counting through tf (always > 0) keeps tf's count in the df branch, so
    // both branches share the (doc_id, term) exchange; count(1) or count(tf),
    // which becomes count(1), let it be pruned and re-explode (PlanSpec pin)
    val df = tf.groupBy("term").agg(count(when(col("tf") > 0, true)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0), 4))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tfidf")
      .orderBy("doc_id", "rank")
  }

  val tfidfTopTermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, rank, term, tfidf
      |FROM (SELECT *, CAST(row_number() OVER (
      |        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rank
      |      FROM scored)
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** REPETITION quality signals (the Gopher-rules family): per document,
    * the most-frequent-token share and the duplicate-bigram fraction —
    * the two cheapest detectors of degenerate/boilerplate text (a looping
    * generator or a nav-bar dump scores near 1.0 on both; clean prose sits
    * well under 0.2 / 0.3).
    *
    * Pure per-row array expressions — no explode, no shuffle, single scan;
    * the per-row cost is O(distinct·n) for the top-token count, bounded by
    * document length, embarrassingly parallel at any corpus size. Ratios
    * round to 6 decimals on both engines (exact same integer inputs, IEEE
    * double division — bit-identical).
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables(spark, dir).documents.select("doc_id", "text"))
      // coalesce BEFORE the split so null text takes the same [""] path
      // in both engines: uncoalesced, Spark's gram builder collapsed the
      // null tokens to one "" bigram (frac 0.0) while DuckDB's
      // list_distinct stripped its NULLs (frac 1.0) — a doc-level metric
      // flip that t14's curation thresholds would propagate
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("top_cnt",
        expr("array_max(transform(array_distinct(t), x -> size(filter(t, y -> y = x))))")
          .cast("long"))
      .withColumn("bigrams", TextHash.wordNgrams("t", 2))
      .select(
        col("doc_id"), col("n_tok"),
        round(col("top_cnt").cast("double") / col("n_tok"), 6).as("top_tok_ratio"),
        round(lit(1.0) - expr("size(array_distinct(bigrams))").cast("double") /
          expr("size(bigrams)"), 6).as("dup_bigram_frac"))
      .orderBy("doc_id")

  val repetitionSql: String =
    s"""SELECT doc_id, n_tok,
       |  round(CAST(top_cnt AS DOUBLE) / n_tok, 6) AS top_tok_ratio,
       |  round(1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams), 6)
       |    AS dup_bigram_frac
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS n_tok,
       |    CAST(list_max(list_transform(list_distinct(t),
       |      x -> len(list_filter(t, y -> y = x)))) AS BIGINT) AS top_cnt,
       |    ${TextHash.wordNgramsSql("t", 2)} AS bigrams
       |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
       |        FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** PII patterns shared by the scrub and its oracle — deliberately
    * lookahead-free so Java regex (Spark) and RE2 (DuckDB) agree. Order
    * matters: emails first (an email contains no phone/IP match but a
    * greedy digit-run pattern could bite into one if it ran first).
    *
    * Phone = 9–15 digits, each followed by at most two separator chars
    * (space/paren/hyphen): loose enough for "+27 (0)21 555 0199" and
    * "021-555-0199", tight enough that "pages 100 - 200" (a 3-char
    * separator run) survives. A run of ≥3 space-separated digit groups
    * ("2021 2022 2023") still redacts — the deliberate
    * conservative-for-privacy end of the precision dial; production tunes
    * the pattern per corpus, the plumbing is what this operator fixes.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\+?(?:[0-9][ ()-]{0,2}){8,14}[0-9]",
    "ip" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")

  /** Apply all [[PiiPatterns]] redactions in order: each match class is
    * replaced by its bracket tag. Exposed for reuse (pipelines scrub before
    * dedup/fingerprinting so a rotated session token doesn't defeat
    * near-dup detection).
    */
  def scrubPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (name, pat)) =>
      regexp_replace(acc, pat, s"[${name.toUpperCase}]")
    }

  /** Per-class redaction counts with [[piiScrub]]'s sequential semantics:
    * each class counts on the text AFTER earlier classes redacted, so a
    * span can never be billed to two classes and counts always equal the
    * redactions the digest pins (the tags themselves can't re-match: no
    * '@' or digits in them).
    */
  def piiCounts(c: Column): Seq[Column] = {
    val stages = PiiPatterns.scanLeft(c) {
      case (acc, (name, pat)) => regexp_replace(acc, pat, s"[${name.toUpperCase}]")
    }
    PiiPatterns.zip(stages).map { case ((name, pat), s) =>
      regexp_count(s, lit(pat)).cast("long").as(s"n_$name")
    }
  }

  /** PII SCRUB: per-document match counts per class plus the digest of the
    * scrubbed text — the digest pins the full replacement pipeline (which
    * spans all classes in order), not just the counts. Single scan, no
    * shuffle; regex cost is per-row and embarrassingly parallel.
    *
    * The synthetic fixture contains no PII (every count is 0 and the
    * digest equals md5(text)) — the oracle still binds the whole pipeline;
    * PiiScrubSpec proves the redaction behavior itself on synthetic
    * emails/phones/IPs.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id") +: piiCounts(col("text")) :+
        md5(scrubPii(col("text"))).as("scrubbed_md5"): _*)
      .orderBy("doc_id")

  val piiScrubSql: String = {
    val stages = PiiPatterns.scanLeft("text") { case (acc, (name, pat)) =>
      s"regexp_replace($acc, '$pat', '[${name.toUpperCase}]', 'g')"
    }
    val counts = PiiPatterns.zip(stages).map { case ((name, pat), c) =>
      s"CAST(len(regexp_extract_all($c, '$pat')) AS BIGINT) AS n_$name"
    }.mkString(",\n|  ")
    s"""SELECT doc_id,
       |  $counts,
       |  md5(${stages.last}) AS scrubbed_md5
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Inline PII-bearing rows for [[piiParity]] — the synthetic corpus has
    * no PII, so these pin the redaction path itself across engines. No
    * apostrophes (they'd need SQL escaping); one row per pattern family
    * plus the two deliberate edge cases (digits-heavy email local part,
    * year-list conservative redaction).
    */
  val PiiParityDocs: Seq[(Long, String)] = Seq(
    1L -> "mail me at jane.doe+spam@sub.example.co today",
    2L -> "call +27 (0)21 555 0199 now",
    3L -> "host 192.168.10.254 is down",
    4L -> "bob@ex.com or 021-555-01234 or 10.0.0.1",
    5L -> "reach 0123456789@relay.example.org",
    6L -> "pages 100 - 200 of 1500 copies sold in 2024",
    7L -> "totally clean prose with no identifiers at all",
    8L -> "board minutes 2021 2022 2023 retained")

  /** Cross-engine PII PARITY: t13 over the fixture corpus pins only the
    * no-op path (no PII in the synthetic documents), so this query runs
    * the SAME regex stages over [[PiiParityDocs]] in both engines (Spark
    * literal frame vs DuckDB VALUES) — per-class counts AND the scrubbed
    * text — binding Java backtracking regex vs RE2 behavior on inputs
    * that actually redact.
    */
  def piiParity(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    PiiParityDocs.toDF("doc_id", "text")
      .select(col("doc_id") +: piiCounts(col("text")) :+
        scrubPii(col("text")).as("scrubbed"): _*)
      .orderBy("doc_id")
  }

  val piiParitySql: String = {
    val vals = PiiParityDocs
      .map { case (id, t) => s"($id, '$t')" }.mkString(",\n|    ")
    val stages = PiiPatterns.scanLeft("text") { case (acc, (name, pat)) =>
      s"regexp_replace($acc, '$pat', '[${name.toUpperCase}]', 'g')"
    }
    val counts = PiiPatterns.zip(stages).map { case ((name, pat), c) =>
      s"CAST(len(regexp_extract_all($c, '$pat')) AS BIGINT) AS n_$name"
    }.mkString(",\n|  ")
    s"""WITH v(doc_id, text) AS (VALUES
       |    $vals)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  $counts,
       |  ${stages.last} AS scrubbed
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** Repetition rejection thresholds for curation: chosen at the fixture's
    * ~p95 so the reason actually fires at test scale; production values are
    * corpus-calibrated the same way.
    */
  val CurationTopTok = 0.15
  val CurationDupBigram = 0.08

  /** CORPUS CURATION — the capstone composition: every per-document signal
    * family (near-dup clusters, language ID, quality score, repetition)
    * folded into one keep/reject decision with the FIRST failing reason,
    * in severity order: near_dup → language → quality → repetition → keep.
    * This is the final filter a training-data pipeline materializes; each
    * signal is the oracle-checked query it comes from (d9/t1/t2/t11), so
    * the composition is joins on doc_id plus one CASE — nothing new to
    * trust. quality never fires on the fixture (every doc passes t2's
    * keep bar) but is live in the CASE and the oracle.
    *
    * Scale: four equi-joins on doc_id over per-doc signal frames — AQE
    * picks broadcast vs shuffle per side; the only iterative stage is d9's
    * component loop, already O(log diameter) rounds.
    */
  def corpusCuration(spark: SparkSession, dir: String): DataFrame = {
    val lang = langId(spark, dir).select("doc_id", "pred_lang")
    val qual = qualityScore(spark, dir).select("doc_id", "keep")
    val rep = repetition(spark, dir)
      .select("doc_id", "top_tok_ratio", "dup_bigram_frac")
    // memoized composition artifact: reuses d9's fixpoint when the session
    // already ran it, instead of re-running the CC loop (order is
    // irrelevant here — the frame feeds an equi-join)
    val clusters = Dedup.clustersFor(spark, dir)
      .withColumnRenamed("cluster_id", "cid")
    Tables(spark, dir).documents.select("doc_id")
      .join(lang, Seq("doc_id"))
      .join(qual, Seq("doc_id"))
      .join(rep, Seq("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("cid").isNotNull && col("cid") =!= col("doc_id"), "near_dup")
          .when(col("pred_lang") =!= "en", "language")
          .when(!col("keep"), "quality")
          .when(col("top_tok_ratio") > CurationTopTok ||
            col("dup_bigram_frac") > CurationDupBigram, "repetition")
          .otherwise("keep").as("status"))
      .orderBy("doc_id")
  }

  lazy val corpusCurationSql: String =
    s"""SELECT d.doc_id,
       |  CASE
       |    WHEN c.cluster_id IS NOT NULL AND c.cluster_id != d.doc_id
       |      THEN 'near_dup'
       |    WHEN l.pred_lang != 'en' THEN 'language'
       |    WHEN NOT q.keep THEN 'quality'
       |    WHEN r.top_tok_ratio > $CurationTopTok
       |      OR r.dup_bigram_frac > $CurationDupBigram THEN 'repetition'
       |    ELSE 'keep' END AS status
       |FROM documents d
       |JOIN ($langIdSql) l USING (doc_id)
       |JOIN ($qualityScoreSql) q USING (doc_id)
       |JOIN ($repetitionSql) r USING (doc_id)
       |LEFT JOIN (${Dedup.dupClustersSql}) c USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- t16

  /** A document whose perplexity exceeds this multiple of the corpus mean
    * is flagged (gibberish / far-out-of-distribution text). Relative to the
    * corpus, not absolute: perplexity scales with vocabulary size, so a
    * fixed cutoff would not transfer between corpora.
    */
  val PplCapFactor = 1.5

  /** Unigram-LM PERPLEXITY scoring — the language-model quality filter of
    * a pre-training pipeline (production trains the LM on a trusted corpus
    * and scores candidates; here the model is the corpus's own unigram
    * distribution, so the mechanism — train, score, threshold — is
    * identical and self-contained). Per document:
    * `nll = Σ tf·(ln T − ln c(w)) / n_tok`, `ppl = exp(nll)`; flagged iff
    * `ppl > PplCapFactor × corpus mean`.
    *
    * Scale: tokens aggregate to (doc, term) BEFORE the model join, so the
    * join input is distinct doc-term pairs, not raw tokens (map-side tf
    * collapse); the term-count model joins on the term key (vocabulary ≪
    * corpus; broadcastable when capped, equi-join otherwise — AQE
    * decides); the corpus total and mean join in as broadcast 1-row
    * frames, keeping the whole plan declarative (no driver action).
    * Ranking-free: one shuffle on term, one on doc_id.
    *
    * Float contract (proven by t9): `ln`+`round(·,4)` is bit-identical
    * across the JVM and DuckDB; sums accumulate ≤1e-13 relative error,
    * orders of magnitude inside the 4-decimal round.
    *
    * The FLAG is computed in exact integer space: the rounded ppl scales
    * to a BIGINT (`ppl_i = round(ppl·10⁴)`), the corpus mean becomes
    * `sum(ppl_i)/n`, and `ppl > 1.5·mean` is `ppl_i·n·10 > 15·sum(ppl_i)`
    * — integer arithmetic with no FP summation (order-independent, so
    * Spark's nondeterministic partial-agg order and DuckDB's sum order
    * can never shift the threshold by an ulp and flip a boundary doc).
    * Headroom: ppl_i·n·10 stays under 2⁶³ for n up to ~10¹² docs at
    * ppl ≤ 10⁵.
    */
  def unigramPpl(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val tf = Tables.spread(docs.select("doc_id", "text"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val model = tf.groupBy("term").agg(sum("tf").as("c"))
    val total = model.agg(sum("c").as("t"))
    val scored = tf.join(model, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg((sum(col("tf") * (log(col("t")) - log(col("c")))) /
        sum("tf")).as("nll"))
      .select(col("doc_id"), round(exp(col("nll")), 4).as("ppl"),
        round(exp(col("nll")) * 10000, 0).cast("long").as("ppl_i"))
    val mean = scored.agg(sum("ppl_i").as("s"), count(lit(1)).as("n"))
    // the flag comparison runs in DECIMAL(38,0) (HUGEINT on the DuckDB
    // side): ppl_i carries a 1e4 fixed-point scale, so the BIGINT product
    // ppl_i·n·10 overflows 2^63 at n ≈ 9e8 docs for a ppl-1e5 doc — the
    // exact corpus size and the exact documents this filter exists to
    // flag (ANSI aborts; non-ANSI wraps negative and unflags them).
    // Decimal keeps the test integer-exact with ~1e38 headroom.
    scored.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("ppl"),
        (col("ppl_i").cast("decimal(38,0)") * col("n") * 10 >
          lit((PplCapFactor * 10).toLong) * col("s").cast("decimal(38,0)"))
          .as("flagged"))
      .orderBy("doc_id")
  }

  val unigramPplSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  GROUP BY doc_id, term),
       |model AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term),
       |total AS (SELECT sum(c) AS t FROM model),
       |scored AS (
       |  SELECT doc_id,
       |    round(exp(sum(tf * (ln(t) - ln(c))) / sum(tf)), 4) AS ppl,
       |    CAST(round(exp(sum(tf * (ln(t) - ln(c))) / sum(tf)) * 10000, 0)
       |      AS BIGINT) AS ppl_i
       |  FROM tf JOIN model USING (term) CROSS JOIN total
       |  GROUP BY doc_id),
       |m AS (SELECT sum(ppl_i) AS s, count(*) AS n FROM scored)
       |SELECT doc_id, ppl,
       |  CAST(ppl_i AS HUGEINT) * n * 10
       |    > ${(PplCapFactor * 10).toLong} * CAST(s AS HUGEINT) AS flagged
       |FROM scored CROSS JOIN m
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- t19

  /** BM25 parameters (Robertson/Walker Okapi defaults) and the fixed
    * keyword query set. The idf is Lucene's non-negative variant
    * ln(1 + (N - df + 0.5)/(df + 0.5)).
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "table", "join"),
    2 -> Seq("stream", "window", "agg"),
    3 -> Seq("vector", "hash", "scan"))

  /** KEYWORD RETRIEVAL: BM25 top-k documents per query — the search-side
    * counterpart of t9's TF-IDF indexing, and the lexical retrieval stage a
    * RAG / data-curation pipeline runs next to the ANN family (n1-n5 are
    * its dense twin). Scores are ranked after rounding to 4 decimals with
    * doc_id as the tiebreak, so ranking never hinges on sub-ulp float
    * noise (exact-duplicate docs score identically and order by id).
    *
    * Scale shape: the explode filters to QUERY TERMS ONLY before anything
    * aggregates — non-matching tokens die inside the scan stage, so the tf
    * shuffle carries |matching (doc, term)| rows, not the corpus vocabulary.
    * df and the query list are tiny frames broadcast back; per-doc length
    * is a scan-local projection; the final top-k is a per-query window over
    * only scored docs. At production scale the tf frame IS the inverted
    * index — materialize it once (t9's shape) and this query becomes a
    * probe of |q| postings lists; the ranking math is unchanged.
    */
  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Ranked(spark, dir, Bm25TopK).orderBy("query_id", "rank")

  /** The ranked list behind t19 with a caller-chosen depth `k` — the
    * lexical leg the n9 hybrid fusion consumes at a deeper pool than the
    * t19 report shape. Same scoring, same tie-break; t19 is exactly
    * `bm25Ranked(_, _, Bm25TopK)` plus its output ordering.
    */
  def bm25Ranked(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    val terms = Bm25Queries.flatMap(_._2).distinct
    val qdf = broadcast(Bm25Queries
      .flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("query_id", "token"))
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("dl", size(col("t")).cast("long"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"), avg("dl").as("avgdl")).first()
    // count over empty is 0 but avg is NULL -> getDouble would NPE
    require(stats.getLong(0) > 0, "bm25 over an empty documents corpus")
    val (nDocs, avgdl) = (stats.getLong(0), stats.getDouble(1))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("t")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), "token")
      .join(qdf, "token")
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("term_score",
        col("idf") * col("tf") * (Bm25K1 + 1) /
          (col("tf") + (col("dl") / avgdl * Bm25B + (1 - Bm25B)) * Bm25K1))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("term_score"), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** The t19 CTE chain up to `ranked`, with the rank cutoff left to the
    * caller — shared verbatim between the t19 oracle and n9's lexical leg
    * so the two cannot drift.
    */
  lazy val bm25RankedSqlCte: String = {
    val qvals = Bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    val terms = Bm25Queries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""WITH q(query_id, token) AS (VALUES $qvals),
       |docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
       |toks AS (
       |  SELECT doc_id, dl, unnest(t) AS token FROM docs),
       |tf AS (
       |  SELECT doc_id, dl, token, count(*) AS tf FROM toks
       |  WHERE token IN ($terms)
       |  GROUP BY doc_id, dl, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |scored AS (
       |  SELECT q.query_id, tf.doc_id,
       |    round(sum(
       |      ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
       |        * tf.tf * ($Bm25K1 + 1)
       |        / (tf.tf + (tf.dl / stats.avgdl * $Bm25B + (1 - $Bm25B)) * $Bm25K1)
       |    ), 4) AS score
       |  FROM tf JOIN df USING (token) JOIN q USING (token), stats
       |  GROUP BY q.query_id, tf.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rank
       |  FROM scored)""".stripMargin
  }

  lazy val bm25SearchSql: String =
    s"""$bm25RankedSqlCte
       |SELECT query_id, rank, doc_id, score FROM ranked
       |WHERE rank <= $Bm25TopK
       |ORDER BY query_id, rank""".stripMargin

  // ----------------------------------------------------------------- t23

  /** Character n-gram widths and per-width report size for the seed-vocab
    * counting pass.
    */
  val VocabMinN = 2
  val VocabMaxN = 4
  val VocabTopK = 30

  /** t23: SEED-VOCABULARY INDUCTION — the corpus-wide counting pass a
    * WordPiece/BPE tokenizer build starts from (Wu et al. 2016; Sennrich
    * et al. 2016): every word-internal character n-gram (n = 2..4) of the
    * lowercased corpus, counted, top 30 per width. Real vocab induction
    * iterates merges on these counts; the COUNTING pass is the data-scale
    * part (it touches every character of the corpus), the merge loop runs
    * over the resulting vocab-sized table driver-side — so this query is
    * the piece that has to be a distributed engine operator.
    *
    * Scale shape: the double explode (token, then position) emits one row
    * per character position per width — the honest cost of the pass — and
    * dies immediately into a hash aggregate whose map side collapses each
    * partition to its DISTINCT grams before anything shuffles. The shuffle
    * therefore carries |vocab per partition|, not |corpus positions|
    * (bounded: ≤ alphabet^4 keys regardless of corpus size), and the final
    * top-k window runs over the global vocab table only. No UDFs — the
    * explode chain is sequence/substring, all codegen.
    */
  def seedVocab(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(explode(split(lower(col("text")), " ")).as("tok"))
    val grams = toks
      .select(col("tok"),
        explode(expr(s"sequence(${VocabMinN}L, ${VocabMaxN}L)")).as("n"))
      .filter(length(col("tok")) >= col("n"))
      .select(col("n"),
        explode(expr("sequence(1, length(tok) - n + 1)")).as("p"), col("tok"))
      .select(col("n"),
        expr("substring(tok, CAST(p AS INT), CAST(n AS INT))").as("gram"))
    val counted = grams.groupBy("n", "gram").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n").orderBy(col("cnt").desc, col("gram"))
    counted
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= VocabTopK)
      .select("n", "rank", "gram", "cnt")
      .orderBy("n", "rank")
  }

  val seedVocabSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
       |widths AS (
       |  SELECT tok, unnest(generate_series($VocabMinN, $VocabMaxN)) AS n
       |  FROM toks),
       |pos AS (
       |  SELECT n, tok, unnest(generate_series(1, len(tok) - n + 1)) AS p
       |  FROM widths WHERE len(tok) >= n),
       |grams AS (
       |  SELECT n, substring(tok, CAST(p AS INT), CAST(n AS INT)) AS gram
       |  FROM pos),
       |counted AS (
       |  SELECT n, gram, count(*) AS cnt FROM grams GROUP BY n, gram),
       |ranked AS (
       |  SELECT n, gram, cnt, CAST(row_number() OVER (PARTITION BY n
       |    ORDER BY cnt DESC, gram) AS BIGINT) AS rank FROM counted)
       |SELECT n, rank, gram, cnt FROM ranked
       |WHERE rank <= $VocabTopK
       |ORDER BY n, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t23_seed_vocab" -> (seedVocab _),
    "t19_bm25_search" -> (bm25Search _),
    "t16_unigram_ppl" -> (unigramPpl _),
    "t14_corpus_curation" -> (corpusCuration _),
    "t13_pii_scrub" -> (piiScrub _),
    "t17_pii_parity" -> (piiParity _),
    "t11_repetition" -> (repetition _),
    "t1_lang_id" -> (langId _),
    "t2_quality_score" -> (qualityScore _),
    "t3_token_counts" -> (tokenCounts _),
    "t4_fingerprint" -> (fingerprint _),
    "t5_fingerprint_clusters" -> (fingerprintClusters _),
    "t6_corpus_stats" -> (corpusStats _),
    "t9_tfidf_top_terms" -> (tfidfTopTerms _))

  val oracles: Map[String, String] = Map(
    "t23_seed_vocab" -> seedVocabSql,
    "t19_bm25_search" -> bm25SearchSql,
    "t16_unigram_ppl" -> unigramPplSql,
    "t14_corpus_curation" -> corpusCurationSql,
    "t13_pii_scrub" -> piiScrubSql,
    "t17_pii_parity" -> piiParitySql,
    "t11_repetition" -> repetitionSql,
    "t1_lang_id" -> langIdSql,
    "t2_quality_score" -> qualityScoreSql,
    "t3_token_counts" -> tokenCountsSql,
    "t4_fingerprint" -> fingerprintSql,
    "t5_fingerprint_clusters" -> fingerprintClustersSql,
    "t6_corpus_stats" -> corpusStatsSql,
    "t9_tfidf_top_terms" -> tfidfTopTermsSql)
}
