package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, WorkDirs}
import graft.queries.Dedup

/** Scale-stress harness: the cold per-query curve. It replicates the sf0.1
  * fixtures k-fold for each requested scale (default 1, 10, 100), runs
  * every query in [[Queries]] cold against each corpus and records the
  * size-vs-time curve (SCALING.md). This is the empirical backing for every
  * "100 TB-safe by plan shape" claim — a plan that is secretly quadratic
  * shows up here as a superlinear bend long before a cluster would reveal
  * it. The one-off studies of earlier rounds (persisted-index builds,
  * upsert A/Bs, export-zone deletes, skew and quantile runs) are recorded
  * in SCALING.md; their source is `src/main/scala/graft/ScaleStress.scala`
  * at commit e6e0bf0.
  *
  * Corpus construction (deterministic, seeded by structure not RNG): the
  * base sf0.1 documents table is replicated k times; replica r rewrites
  * its text through a BIJECTIVE character permutation (a distinct affine
  * map over [a-zA-Z0-9] per replica; replica 0 is the identity) so
  *  - WITHIN a replica the duplicate/near-dup structure of the base corpus
  *    is preserved EXACTLY — lengths, token boundaries, shingle/gram
  *    overlap and Jaccard values are all isomorphic under a char bijection
  *    (two texts that matched still match, with identical similarity), and
  *  - ACROSS replicas no token/shingle/gram is shared (a common word maps
  *    to a different string in every replica), so no cross-replica
  *    candidate pairs exist.
  * Output sizes (dup groups, near-dup pairs, clusters) therefore scale
  * exactly linearly with k, which makes TIME-vs-k directly interpretable:
  * a correct shuffle-bounded plan should track the input growth, and any
  * all-pairs mistake would blow up as k². (An earlier variant suffixed
  * every token with "·r" instead — that puts the same 3-char pattern into
  * most 8-char shingles of every document, inflates cross-doc MinHash
  * collisions, and blew the d2 candidate set up superlinearly: the
  * generator itself was distorting the similarity structure it was meant
  * to replicate. A char bijection has no such artifact.)
  *
  * Embeddings replicate with vec_id offset by 1M per replica (the n1/n2
  * query set is pinned at vec_id < 20, so |Q| stays constant while the
  * corpus grows — the measurement isolates corpus-side cost) and a small
  * deterministic per-element perturbation so replicas are not bitwise
  * duplicates of each other.
  *
  * Run: SPARK_GRAFT_SCALES=1,10,100 sbt "runMain graft.ScaleStress"
  * (SPARK_GRAFT_SF_DIR picks the base fixtures, SPARK_GRAFT_ONLY=q1,q2
  * limits the query list). Each query's time is the min over 2 cold reps
  * at k <= 10 and one cold rep above. Emits one JSON line per (scale,
  * query) and target/scaling.json at exit. A query that fails every rep
  * is written with `"sec":null,"failed":true`, and the run then exits
  * non-zero.
  */
object ScaleStress {

  private[graft] val ScaleRoot: String = WorkDirs.target("scale")

  /** doc_id/vec_id replica offset; far above any base id (max 4999). */
  private val IdOffset = 1000000L

  /** The permuted character set. 62 = 2 x 31, so any odd multiplier not
    * divisible by 31 is coprime to 62 and i -> (a*i + b) mod 62 is a
    * bijection; distinct (a, b) give distinct permutations, and
    * (a, b) = (1, 0) — replica 0 — is the identity.
    */
  private val Alphabet =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString
  private val Mults = (1 until 62 by 2).filterNot(_ % 31 == 0).toIndexedSeq

  private def permFor(rep: Int): String = {
    val a = Mults(rep % Mults.size)
    val b = rep / Mults.size
    require(b < 62, s"replica $rep exceeds the ${Mults.size * 62} distinct maps")
    (0 until 62).map(i => Alphabet((a * i + b) % 62)).mkString
  }

  private[graft] val Queries = Seq(
    "d1_exact_dedup", "d2_minhash_lsh", "d5_ngram_jaccard",
    "d9_dup_clusters", "d10_contamination_rate", "t14_corpus_curation",
    "d8_decontaminate", "d15_bloom_decontaminate",
    "d12_dedup_verdicts", "d13_fuzzy_decontaminate",
    "d14_incremental_verdicts",
    "n2_lsh_bucket_topk", "n4_ivf_topk", "d11_semantic_dedup",
    "d6_embedding_near_dup", "n6_quantized_rescore",
    "t18_weighted_sample", "t19_bm25_search", "t20_pack_sequences",
    "t21_source_cap", "t22_cluster_cap", "z4_heavy_hitters",
    "j1_asof_attribution", "j3_asof_exec", "j2_range_correlation",
    "e2_user_sessions", "e5_incremental_rollup", "n8_hard_negatives",
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q5_local_supplier_volume", "q9_product_profit",
    "n9_hybrid_rrf", "t23_seed_vocab", "t24_leakage_split", "e7_funnel",
    // r16 PQ family: codebook size is corpus-INDEPENDENT (standard PQ
    // practice — K codewords per subspace is a vocabulary, not an index
    // partition count), so both run the SparkEntry registration verbatim;
    // training cost is linear per Lloyd round, the codes table linear
    "n10_pq_codes", "n11_pq_adc_topk", "n12_ivfpq_topk",
    // r17: the production recipe — n12's stage + |Q|·pool-bounded rescore
    "n14_ivfpq_rescore_topk",
    // r16 profiling family: single-scan reports, verbatim registrations
    "pr1_column_profile", "pr2_skew_profile", "pr3_constraint_report",
    "pr4_fk_integrity")

  /** SemDeDup's K schedule. Total cost = centroid assignment (n·K dot
    * products — the coarse quantizer is brute-force nearest-centroid) plus
    * within-cell pairing (n²/2K): minimized at K ≈ √(n/2), where both
    * terms are Θ(n^1.5). K ∝ n — the tempting "keep cells constant-size"
    * schedule — makes the ASSIGNMENT quadratic instead (measured: 58.5 s
    * at x100 vs ~15 s under √n). So: K = 8·√scale, anchored at the oracle
    * entry's K=8 at x1.
    */
  private[graft] def d11Cells(k: Int): Int =
    math.max(8, math.round(8 * math.sqrt(k.toDouble)).toInt)

  /** d6's LSH plane schedule: +log2(scale) planes keeps bucket occupancy
    * constant as the corpus grows (the production sizing rule documented
    * on [[graft.functions.VectorLsh.NumPlanes]]), so the within-bucket
    * pairing stays linear-per-bucket instead of bending quadratic the way
    * a fixed bucket count must. This is the LSH-cell counterpart of d11's
    * √n k-means schedule — and the measured form of SCALING.md's claim
    * that LSH cells are SemDeDup's escape hatch past Θ(n^1.5): bucket
    * assignment is n·planes dots (planes grows as log n, not √n).
    */
  private[graft] def d6Planes(k: Int): Int =
    graft.functions.VectorLsh.NumPlanes +
      math.round(math.log(k.toDouble) / math.log(2.0)).toInt

  /** Scale-adapted runner for queries whose tuning parameter is a function
    * of corpus size; everything else runs the SparkEntry registration
    * verbatim.
    */
  private[graft] def fnFor(name: String, k: Int): (SparkSession, String) => DataFrame =
    name match {
      case "d11_semantic_dedup" =>
        (s, d) => Dedup.semanticDedup(s, d, numCells = d11Cells(k))
      case "d6_embedding_near_dup" =>
        (s, d) => Dedup.embeddingNearDup(s, d, planes = d6Planes(k))
      case "n4_ivf_topk" =>
        // same √n quantizer schedule as d11 (shared coarse quantizer),
        // nprobe pinned at the oracle entry's 2: the curve isolates
        // corpus-side cost — |Q| and per-query probed fraction both fixed
        (s, d) => graft.queries.Similarity.ivfTopK(s, d, nprobe = 2,
          numCells = d11Cells(k))
      case "n12_ivfpq_topk" =>
        // coarse cells on the same √n schedule; PQ codebooks stay
        // constant-size (a vocabulary, not a partition count)
        (s, d) => graft.queries.Similarity.ivfPqTopK(s, d,
          numCells = d11Cells(k))
      case "n14_ivfpq_rescore_topk" =>
        // n12's schedule; the rescore pool stays CONSTANT — its cost is
        // |Q|·pool raw fetches, independent of corpus growth
        (s, d) => graft.queries.Similarity.ivfPqRescoreTopK(s, d,
          numCells = d11Cells(k))
      case "t22_cluster_cap" =>
        // the cap rides the same √n cell schedule: per-cell window width
        // stays Θ(√n) and survivors grow as √n·cap — fixed cells would
        // instead widen every window linearly with the corpus
        (s, d) => graft.queries.Sampling.clusterCap(s, d,
          numCells = d11Cells(k))
      case "z4_heavy_hitters" =>
        // budget k·scale keeps the RELATIVE threshold a fixed per-replica
        // share (total/k' with total scaled by k ⟺ the base criterion per
        // replica), so output rows scale exactly ×k like the dedup family;
        // a fixed budget would instead shrink the output toward empty
        (s, d) => graft.queries.Sketches.heavyHittersOf(
          graft.core.Tables(s, d).documents, graft.queries.Sketches.HhK * k)
      case _ => SparkEntry.queries(name)
    }

  private def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Minimal JSON string escaping for the dumped oracle SQL. */
  private def ujsonEscape(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Replicate the base corpus k-fold into outDir (idempotent: skipped when
    * the marker of a completed generation exists).
    */
  private[graft] def generate(spark: SparkSession, baseDir: String, outDir: String,
      k: Int): Unit = {
    val done = new java.io.File(s"$outDir/_GENERATED")
    if (done.exists()) return
    val reps = spark.range(0, k).select(col("id").as("rep"))

    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    // one branch per replica (translate needs literal from/to): a k-way
    // union of the same 1.5 MB scan — generation-time only, never on the
    // query path
    val docs = (0 until k).map { r =>
      base.select(
        (col("doc_id") + lit(r * IdOffset)).as("doc_id"),
        translate(col("text"), Alphabet, permFor(r)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
    docs.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .crossJoin(broadcast(reps))
      // replica 0 keeps the base vectors bit-for-bit; later replicas get a
      // small deterministic per-element shift so they are distinct vectors
      // with the same scale/distribution (hash() is seed-stable)
      .withColumn("embedding",
        when(col("rep") === 0, col("embedding")).otherwise(expr(
          """transform(embedding, (x, i) ->
            |  CAST(x + 0.03 * (pmod(hash(vec_id, rep, i), 13) - 6) AS FLOAT))"""
            .stripMargin)))
      .select(
        (col("vec_id") + col("rep") * IdOffset).as("vec_id"),
        col("embedding"), col("label"))
    emb.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    done.getParentFile.mkdirs()
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
  }

  /** Replicate the events table k-fold (separate marker: scale dirs
    * predating the temporal-family study lack events and regenerate only
    * this table). Replica r shifts user_id/event_id by r·IdOffset and ts
    * by r·365 days: within-replica time deltas are preserved exactly (j1
    * attribution lags, j2 bucket membership, e2 session gaps are all
    * delta-functions), while cross-replica deltas are ≥1 year ≫ any
    * window, so no cross-replica pair qualifies anywhere and every
    * output scales exactly linearly with k — the same interpretability
    * contract as the document corpus's character bijection.
    */
  private[graft] def generateEvents(spark: SparkSession, baseDir: String,
      outDir: String, k: Int): Unit = {
    val done = new java.io.File(s"$outDir/_EVENTS_GENERATED")
    if (done.exists()) return
    val reps = spark.range(0, k).select(col("id").as("rep"))
    val ev = graft.core.Tables(spark, baseDir).events
      .crossJoin(broadcast(reps))
      .select(
        (col("event_id") + col("rep") * IdOffset).as("event_id"),
        expr("timestampadd(DAY, CAST(rep * 365 AS INT), ts)").as("ts"),
        (col("user_id") + col("rep") * IdOffset).as("user_id"),
        col("event_type"), col("value"), col("props"))
    ev.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
  }

  /** Replicate the TPC-H fact tables k-fold and copy the dimensions
    * verbatim: orders/lineitem get `orderkey += r·IdOffset` while every
    * other key is untouched, so each replica's facts join the SAME
    * dimension rows. Fact volume scales exactly ×k, group-by domains stay
    * fixed (grouped results keep their row counts with values ×k), and
    * top-k outputs stay deterministic — replicas tie on every measure, and
    * the id tie-break picks replica 0's keys. Separate marker: scale dirs
    * predating the relational-family study regenerate only these tables.
    */
  private[graft] def generateTpch(spark: SparkSession, baseDir: String,
      outDir: String, k: Int): Unit = {
    val done = new java.io.File(s"$outDir/_TPCH_GENERATED")
    if (done.exists()) return
    val reps = spark.range(0, k).select(col("id").as("rep"))
    val par = spark.sparkContext.defaultParallelism
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey").foreach {
      case (t, key) =>
        spark.read.parquet(s"$baseDir/$t.parquet")
          .crossJoin(broadcast(reps))
          .withColumn(key, col(key) + col("rep") * IdOffset)
          .drop("rep")
          .repartition(par)
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    Seq("customer", "supplier", "nation", "region", "part").foreach { t =>
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", WorkDirs.testData("0.1"))
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.local("graft-scale-stress")

    def f2(v: Double): String =
      java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString()

    // untimed warm-up at the base scale: absorb classloading + codegen
    SparkEntry.queries.get("d1_exact_dedup").foreach { fn =>
      materialize(fn(spark, baseDir))
    }

    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // generate only the table families the selected queries read — an
    // SPARK_GRAFT_ONLY run over the document tier shouldn't pay the 60M-row
    // TPC-H replication (markers are per-family, so a later full run
    // back-fills whatever this one skipped)
    val selected = Queries.filter(q => only.forall(_.contains(q)))
    val needsEvents = selected.exists(q =>
      q.startsWith("j") || q.startsWith("e") || q == "pr2_skew_profile")
    val needsTpch = selected.exists(q =>
      q.startsWith("q") || q == "pr4_fk_integrity")
    scales.foreach { k =>
      val dir = s"$ScaleRoot/x$k"
      val t0 = System.nanoTime()
      generate(spark, baseDir, dir, k)
      if (needsEvents) generateEvents(spark, baseDir, dir, k)
      if (needsTpch) generateTpch(spark, baseDir, dir, k)
      val genSec = (System.nanoTime() - t0) / 1e9
      println(s"""{"scale":$k,"event":"generated","sec":${f2(genSec)}}""")
      // min-of-2 at the small scales, where a single shot is dominated by
      // JIT/codegen compilation of that query's pipeline (measured: d2 at
      // x1 single-shot reads 1.7x its x10 time); at x100 the JVM is fully
      // warm and one shot is the honest number
      val reps = if (k <= 10) 2 else 1
      // DuckDB twins of the scale-adapted queries (same K / plane
      // schedules), for tools/scaleoracle.py — written next to the corpus
      // they belong to
      val scaleOracle = java.nio.file.Paths.get(dir, "oracle_scale.json")
      java.nio.file.Files.write(scaleOracle,
        s"""{"d11_semantic_dedup": ${ujsonEscape(
          Dedup.semanticDedupSqlFor(d11Cells(k)))},
           |"d6_embedding_near_dup": ${ujsonEscape(
          Dedup.embeddingNearDupSqlFor(d6Planes(k)))},
           |"n4_ivf_topk": ${ujsonEscape(
          graft.queries.Similarity.ivfTopKSqlFor(d11Cells(k)))},
           |"t22_cluster_cap": ${ujsonEscape(
          graft.queries.Sampling.clusterCapSqlFor(d11Cells(k)))},
           |"z4_heavy_hitters": ${ujsonEscape(
          graft.queries.Sketches.heavyHittersSqlFor(
            graft.queries.Sketches.HhK * k))}}""".stripMargin
          .getBytes("UTF-8"))
      selected.foreach { name =>
        val fn = fnFor(name, k)
        var best: Option[Double] = None
        var rows = -1L
        (1 to reps).foreach { _ =>
          // cold per rep: no memoized signatures, no cached frames, fresh
          // GC baseline — the curve must measure end-to-end per-query cost
          Dedup.clearMemos(); graft.operators.VectorIndex.clearMemos()
          spark.catalog.clearCache()
          System.gc()
          val q0 = System.nanoTime()
          try {
            rows = materialize(fn(spark, dir))
            val sec = (System.nanoTime() - q0) / 1e9
            best = Some(best.fold(sec)(math.min(_, sec)))
          } catch { case NonFatal(e) =>
            System.err.println(s"[scale] x$k $name failed: ${e.getMessage}")
          }
        }
        // a query fails only when every rep failed; it is written with a
        // null time so no reader mistakes it for a measurement
        val line = best match {
          case Some(sec) => s"""{"scale":$k,"query":"$name","sec":${f2(sec)},"rows":$rows}"""
          case None =>
            failed += s"x$k $name"
            s"""{"scale":$k,"query":"$name","sec":null,"rows":null,"failed":true}"""
        }
        println(line)
        results += line
      }
    }
    val out = results.mkString("[\n  ", ",\n  ", "\n]")
    val p = java.nio.file.Paths.get(WorkDirs.target("scaling.json"))
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, out.getBytes("UTF-8"))
    println(s"""{"event":"done","n":${results.size}}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[scale] ${failed.size} queries failed every rep: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
