package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, WorkDirs}
import graft.queries.Dedup

/** Scale-stress harness: measures the dedup/graph/ANN family on synthetic
  * corpora 10x/100x the sf0.1 fixtures and records size-vs-time curves
  * (SCALING.md). This is the empirical backing for every "100 TB-safe by
  * plan shape" claim — a plan that is secretly quadratic shows up here as a
  * superlinear bend long before a cluster would reveal it.
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
  * Emits one JSON line per (scale, query) and target/scaling.json at exit.
  */
object ScaleStress {

  /** doc_id/vec_id replica offset; far above any base id (max 4999). */
  private[graft] val ScaleRoot: String = WorkDirs.target("scale")

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

  private val Queries = Seq(
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
  private def fnFor(name: String, k: Int): (SparkSession, String) => DataFrame =
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
      k: Int, boilerplate: Boolean = false): Unit = {
    val done = new java.io.File(s"$outDir/_GENERATED")
    if (done.exists()) return
    val reps = spark.range(0, k).select(col("id").as("rep"))

    val base0 = spark.read.parquet(s"$baseDir/documents.parquet")
    // skew variant: every doc ends with the same 8-token sentence, so each
    // of its word-3-grams lands in EVERY doc of the replica (df = |docs|/k
    // ≫ MaxGramDf) — the boilerplate-gram hot-bucket case the d5 DF guard
    // exists for. Appended BEFORE the permutation, so it is replica-local
    // boilerplate like everything else.
    val base =
      if (boilerplate) base0.withColumn("text", concat(col("text"), lit(
        " common footer boilerplate sentence repeated on every single page")))
        .withColumn("n_chars", length(col("text")).cast("long"))
      else base0
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

    // Persisted-index scale experiment (SPARK_GRAFT_N7=k1,k2,...): n7's
    // claim is that probes against the persisted IVF index cost the PROBED
    // CELLS, not the corpus — build once (timed separately: the amortized
    // cost), then probe (timed: the steady-state serving cost). Uses the
    // same √n cell schedule as n4/d11, so the probe touches ~nprobe·|Q|/K
    // of the corpus partitions and the probe curve should flatten as K
    // grows while n4 (rebuild per query) keeps paying the full corpus.
    sys.env.get("SPARK_GRAFT_N7").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          val idx = s"$ScaleRoot/ivf_index_x$k"
          // cold build: no warm quantizer/index memo may subsidize the
          // build number this table reports
          graft.queries.Similarity.clearQuantMemo()
          spark.catalog.clearCache(); System.gc()
          val b0 = System.nanoTime()
          graft.queries.Similarity.buildIvfIndex(spark, dir, idx,
            numCells = d11Cells(k))
          val buildSec = (System.nanoTime() - b0) / 1e9
          spark.catalog.clearCache(); System.gc()
          val p0 = System.nanoTime()
          val rows = materialize(
            graft.queries.Similarity.probeIvfIndex(spark, dir, idx, nprobe = 2))
          val probeSec = (System.nanoTime() - p0) / 1e9
          println(s"""{"scale":$k,"variant":"n7","cells":${d11Cells(k)},"build_sec":${f2(buildSec)},"probe_sec":${f2(probeSec)},"rows":$rows}""")
        }
        spark.stop()
        return
      }

    // Persisted IVF+PQ experiment (SPARK_GRAFT_N13=k1,k2,...): n13's claim
    // splits like n7's — the BUILD pays the corpus once (quantizer training
    // + the codes write), and the PROBE pays the probed cells of a table
    // ~64x smaller than n7's raw-vector cells/. Same √n cell schedule; the
    // probe curve should flatten as K grows while the per-probe bytes stay
    // ~nprobe·|Q|/K of FOUR LONGS per vector.
    sys.env.get("SPARK_GRAFT_N13").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          val idx = s"$ScaleRoot/ivfpq_index_x$k"
          graft.core.FsUtil.deleteRecursively(idx)
          // cold build: no warm quantizer/codebook memo may subsidize it
          graft.queries.Similarity.clearQuantMemo()
          spark.catalog.clearCache(); System.gc()
          val b0 = System.nanoTime()
          graft.queries.Similarity.buildIvfPqIndex(spark, dir, idx,
            numCells = d11Cells(k))
          val buildSec = (System.nanoTime() - b0) / 1e9
          spark.catalog.clearCache(); System.gc()
          val p0 = System.nanoTime()
          val rows = materialize(
            graft.queries.Similarity.probeIvfPqIndex(spark, dir, idx, nprobe = 2))
          val probeSec = (System.nanoTime() - p0) / 1e9
          println(s"""{"scale":$k,"variant":"n13","cells":${d11Cells(k)},"build_sec":${f2(buildSec)},"probe_sec":${f2(probeSec)},"rows":$rows}""")
        }
        spark.stop()
        return
      }

    // Serving-composition A/B (SPARK_GRAFT_N15=k1,k2,...): n15's claim is
    // that the exact-rescore stage costs the SAME flat |Q|·pool premium
    // over the PERSISTED-index probe that n14 measures over the in-session
    // stage — fixed per-query machinery, corpus-independent. Same session,
    // same artifact: time the bare n13 probe, then n15 (probe + rescore);
    // premium = the difference at each scale. Each form is min-of-2 so
    // BOTH time the warm serving path — the first n13 rep pays the
    // probe-plan collect (pqProbeMemo cold) that every later rep of
    // either form memo-hits; a single-shot A/B charges that one-time cost
    // entirely to whichever form runs first.
    sys.env.get("SPARK_GRAFT_N15").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          val idx = s"$ScaleRoot/ivfpq_index_x$k"
          graft.core.FsUtil.deleteRecursively(idx)
          graft.queries.Similarity.clearQuantMemo()
          spark.catalog.clearCache(); System.gc()
          graft.queries.Similarity.buildIvfPqIndex(spark, dir, idx,
            numCells = d11Cells(k))
          // println schema == the committed SCALESTRESS file schema
          // (query/rows keys), so re-running the instrument reproduces the
          // artifact byte-shape verbatim (r18 advice: the r18 file was
          // hand-reshaped from form-keyed lines)
          def timed(label: String)(df: => DataFrame): Double = {
            var rows = 0L
            val secs = (1 to 2).map { _ =>
              spark.catalog.clearCache(); System.gc()
              val t0 = System.nanoTime()
              rows = materialize(df)
              (System.nanoTime() - t0) / 1e9
            }
            val sec = secs.min
            println(s"""{"scale":$k,"query":"$label","sec":${f2(sec)},"sec_runs":[${secs.map(f2).mkString(",")}],"cells":${d11Cells(k)},"rows":$rows}""")
            sec
          }
          val probeSec = timed("n13_probe")(
            graft.queries.Similarity.probeIvfPqIndex(spark, dir, idx, nprobe = 2))
          val rescoreSec = timed("n15_probe_rescore")(
            graft.queries.Similarity.rescoreProbedIndex(spark, dir, idx, nprobe = 2))
          println(s"""{"scale":$k,"query":"premium","sec":${f2(rescoreSec - probeSec)}}""")
        }
        spark.stop()
        return
      }

    // Index-maintenance A/B (SPARK_GRAFT_N16=k1,k2,...): n16's claim is
    // that LANDING an insert batch into the persisted IVF+PQ index
    // (upsertIvfPqIndex) costs the DELTA (kernel work) plus the touched
    // cells' code rows (read + rewrite), never the corpus — while the
    // frozen-quantizer REBUILD (recodeIvfPqIndex: recode everything) pays
    // the whole corpus every time. Same session, same base artifact per
    // form. Each form min-of-2 with sec_runs (the n15 lesson: run 1 pays
    // one-time plan/collect costs); a re-landed batch is
    // content-idempotent, so rep 2 touches the same cells as rep 1.
    sys.env.get("SPARK_GRAFT_N16").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          val idx = s"$ScaleRoot/ivfpq_append_x$k"
          // fresh artifact dir (r19 advice): under the session-global
          // dynamic overwrite mode a base build over a dir left by a
          // prior run would keep that run's full-union partitions alive,
          // deriving the local batch and first-cell contents from dirty
          // state on repeat runs
          graft.core.FsUtil.deleteRecursively(idx)
          graft.queries.Similarity.clearQuantMemo()
          spark.catalog.clearCache(); System.gc()
          val b0 = System.nanoTime()
          graft.queries.Similarity.buildIvfPqBaseIndex(spark, dir, idx,
            numCells = d11Cells(k))
          val buildSec = (System.nanoTime() - b0) / 1e9
          val delta = graft.queries.Similarity.appendDelta(spark, dir)
          val union = spark.read.parquet(s"$dir/embeddings.parquet")
            .select("vec_id", "embedding")
          // LOCAL batch: every vector the base index holds in its lowest
          // cell — an upsert batch guaranteed to touch exactly ONE
          // partition, the serving-shaped case (real ingest batches
          // cluster by topic/source; the uniform mod-split delta is the
          // adversarial opposite, touching ~every cell)
          val firstCell = new java.io.File(s"$idx/codes").listFiles()
            .filter(f => f.isDirectory && f.getName.startsWith("cell="))
            .map(_.getName.stripPrefix("cell=").toLong).min
          // materialized to scratch parquet BEFORE timing (r19 advice):
          // rep 1's upsert rewrites the very cell partition this batch
          // derives from, so a lazy frame would re-derive rep 2's batch
          // (and the logged batch_rows) from the mutated index
          val localPath = s"$ScaleRoot/n16_local_batch_x$k"
          graft.core.FsUtil.deleteRecursively(localPath)
          spark.read.parquet(s"$dir/embeddings.parquet")
            .join(spark.read.parquet(s"$idx/codes/cell=$firstCell")
              .select("vec_id"), Seq("vec_id"), "left_semi")
            .select("vec_id", "embedding")
            .write.parquet(localPath)
          val local = spark.read.parquet(localPath)
          // run returns the touched cells, or None for the recode (which
          // rewrites every cell)
          def timedForm(label: String, batch: DataFrame)(
              run: => Option[Int]): Double = {
            var touched: Option[Int] = None
            val secs = (1 to 2).map { _ =>
              spark.catalog.clearCache(); System.gc()
              val t0 = System.nanoTime()
              touched = run
              (System.nanoTime() - t0) / 1e9
            }
            val sec = secs.min
            println(s"""{"scale":$k,"query":"$label","sec":${f2(sec)},"sec_runs":[${secs.map(f2).mkString(",")}],"cells":${d11Cells(k)},"touched_cells":${touched.getOrElse("null")},"batch_rows":${batch.count()}}""")
            sec
          }
          def upsert(batch: DataFrame): Option[Int] =
            Some(graft.queries.Similarity.upsertIvfPqIndex(spark, idx, batch).size)
          val localSec = timedForm("n16_append_local", local)(upsert(local))
          val appendSec = timedForm("n16_append_delta", delta)(upsert(delta))
          val rebuildSec = timedForm("n16_recode_union", union) {
            graft.queries.Similarity.recodeIvfPqIndex(spark, idx, union); None
          }
          println(s"""{"scale":$k,"query":"append_vs_recode","build_sec":${f2(buildSec)},"local_sec":${f2(localSec)},"append_sec":${f2(appendSec)},"recode_sec":${f2(rebuildSec)},"delta_rows":${delta.count()},"corpus_rows":${union.count()}}""")
        }
        spark.stop()
        return
      }

    // Upsert A/B (SPARK_GRAFT_N17=k1,k2,...): n17's claim is that a
    // vector UPDATE costs the batch's kernel work plus the touched (old ∪
    // new) cell partitions and the batch's ledger buckets — never the
    // corpus — while the pre-n17 alternative for a cell-moving update
    // (frozen recode of the post-update corpus) pays the whole corpus.
    // Forms: a cell-LOCAL move (one cell's members negated — old cell
    // empties, roughly one new cell fills), the corpus-UNIFORM negated
    // mod-split (the oracle-gated adversarial shape, touching ~every
    // cell), and the frozen recode of the post-upsert corpus. A RE-LANDED
    // upsert is cheaper by design (the ledger already points the ids at
    // their new cells, so the old partitions drop out of the touched
    // set), so reps rebuild the base between runs — both reps time the
    // MOVE, min-of-2 still absorbing one-off plan costs.
    sys.env.get("SPARK_GRAFT_N17").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          val idx = s"$ScaleRoot/ivfpq_upsert_x$k"
          graft.queries.Similarity.clearQuantMemo()
          var buildSec = -1.0
          def rebuildBase(): Unit = {
            graft.core.FsUtil.deleteRecursively(idx)
            spark.catalog.clearCache(); System.gc()
            val b0 = System.nanoTime()
            graft.queries.Similarity.buildIvfPqIndex(spark, dir, idx,
              numCells = d11Cells(k))
            val sec = (System.nanoTime() - b0) / 1e9
            if (buildSec < 0) buildSec = sec // first build is the cold one
          }
          rebuildBase()
          // cell-LOCAL move batch: one cell's members re-embedded to a
          // DONOR vector from a sibling cell — a vector that lives in a
          // cell re-codes to that same cell under the frozen quantizer,
          // so the move touches EXACTLY two partitions (old + donor's).
          // Negating the members instead is NOT local: a Voronoi cell of
          // iid vectors holds diverse directions, and their negations
          // scatter across ~every cell (measured before this form: the
          // "local" negation touched 79/80 cells at x100). Materialized
          // to scratch parquet before timing (the n16 lesson: the source
          // partition mutates).
          val cellIds = new java.io.File(s"$idx/codes").listFiles()
            .filter(f => f.isDirectory && f.getName.startsWith("cell="))
            .map(_.getName.stripPrefix("cell=").toLong).sorted
          val firstCell = cellIds(0)
          val donorCell = cellIds(1)
          val localPath = s"$ScaleRoot/n17_local_batch_x$k"
          graft.core.FsUtil.deleteRecursively(localPath)
          spark.read.parquet(s"$idx/codes/cell=$firstCell").select("vec_id")
            .crossJoin(spark.read.parquet(s"$dir/embeddings.parquet")
              .join(spark.read.parquet(s"$idx/codes/cell=$donorCell")
                .select("vec_id").limit(1), Seq("vec_id"), "left_semi")
              .select("embedding"))
            .write.parquet(localPath)
          val local = spark.read.parquet(localPath)
          val uniform = graft.queries.Similarity.upsertBatch(spark, dir)
          val post = graft.queries.Similarity.postUpsertCorpus(spark, dir)
          // run returns the touched cells, or None for the recode (which
          // rewrites every cell)
          def timedForm(label: String, batch: DataFrame)(
              run: => Option[Int]): Double = {
            var touched: Option[Int] = None
            val secs = (1 to 2).map { _ =>
              rebuildBase()
              spark.catalog.clearCache(); System.gc()
              val t0 = System.nanoTime()
              touched = run
              (System.nanoTime() - t0) / 1e9
            }
            val sec = secs.min
            println(s"""{"scale":$k,"query":"$label","sec":${f2(sec)},"sec_runs":[${secs.map(f2).mkString(",")}],"cells":${d11Cells(k)},"touched_cells":${touched.getOrElse("null")},"batch_rows":${batch.count()}}""")
            sec
          }
          def upsert(batch: DataFrame): Option[Int] =
            Some(graft.queries.Similarity.upsertIvfPqIndex(spark, idx, batch).size)
          val localSec = timedForm("n17_upsert_local", local)(upsert(local))
          val uniformSec = timedForm("n17_upsert_uniform", uniform)(upsert(uniform))
          val recodeSec = timedForm("n17_recode_post", post) {
            graft.queries.Similarity.recodeIvfPqIndex(spark, idx, post); None
          }
          println(s"""{"scale":$k,"query":"upsert_vs_recode","build_sec":${f2(buildSec)},"local_sec":${f2(localSec)},"uniform_sec":${f2(uniformSec)},"recode_sec":${f2(recodeSec)}}""")
        }
        spark.stop()
        return
      }

    // Entity-resolution scale experiment (SPARK_GRAFT_J4=k1,k2,...): j4's
    // scale claim is that cost tracks DISTINCT values, not rows. Replicate
    // part k-fold with offset ids and UNCHANGED names — the natural shape
    // of a value column at scale: rows grow, the value vocabulary doesn't —
    // and time the full match. The distinct-value table is identical at
    // every k, so the matched pairs must be too (canonical ids stay the
    // base-replica minima); only the collapse scan may grow.
    sys.env.get("SPARK_GRAFT_J4").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        import org.apache.spark.sql.functions.{broadcast, col}
        ks.foreach { k =>
          val dir = s"$ScaleRoot/j4x$k"
          val done = new java.io.File(s"$dir/_GENERATED")
          if (!done.exists()) {
            val reps = spark.range(0, k).select(col("id").as("rep"))
            spark.read.parquet(s"$baseDir/part.parquet")
              .crossJoin(broadcast(reps))
              .withColumn("p_partkey", col("p_partkey") + col("rep") * IdOffset)
              .drop("rep")
              .repartition(spark.sparkContext.defaultParallelism)
              .write.mode("overwrite").parquet(s"$dir/part.parquet")
            java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
          }
          spark.catalog.clearCache(); System.gc()
          val q0 = System.nanoTime()
          val rows = materialize(SparkEntry.queries("j4_fuzzy_match")(spark, dir))
          val sec = (System.nanoTime() - q0) / 1e9
          println(s"""{"scale":$k,"variant":"j4","query":"j4_fuzzy_match","sec":${f2(sec)},"rows":$rows}""")
        }
        spark.stop()
        return
      }

    // Top-k aggregate experiment (SPARK_GRAFT_W5=k1,k2,...): the same
    // per-customer top-3 over the x{k} orders table spelled two ways in
    // the same session — the native graft_topk heap aggregate (no sort
    // anywhere, k pairs per group per partition cross the exchange) vs
    // the row_number window (two sorts around the exchange, with
    // Catalyst's WindowGroupLimit map-side pruning — the strongest
    // built-in form). Identical output (w5's gate pins it vs DuckDB);
    // the gap here is purely machinery.
    sys.env.get("SPARK_GRAFT_W5").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        import org.apache.spark.sql.functions.col
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          generateTpch(spark, baseDir, dir, k)
          def run(label: String, df: DataFrame): Unit = {
            spark.catalog.clearCache(); System.gc()
            val q0 = System.nanoTime()
            val rows = materialize(df)
            val sec = (System.nanoTime() - q0) / 1e9
            println(s"""{"scale":$k,"variant":"w5","form":"$label","sec":${f2(sec)},"rows":$rows}""")
          }
          graft.core.Tables(spark, dir).orders
            .createOrReplaceTempView("w5_scale_orders")
          run("graft_topk_agg", spark.sql(
            """SELECT o_custkey, p.pos + 1 AS rank, p.col.id, p.col.score
              |FROM (SELECT o_custkey, graft_topk(3, o_totalprice, o_orderkey) AS top
              |      FROM w5_scale_orders GROUP BY o_custkey)
              |LATERAL VIEW posexplode(top) p""".stripMargin))
          run("row_number_window", spark.sql(
            """SELECT o_custkey, rank, o_orderkey, o_totalprice
              |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              |        row_number() OVER (PARTITION BY o_custkey
              |          ORDER BY o_totalprice DESC, o_orderkey) AS rank
              |      FROM w5_scale_orders)
              |WHERE rank <= 3""".stripMargin))
        }
        spark.stop()
        return
      }

    // Incremental-rollup ingest experiment (SPARK_GRAFT_E5=k1,k2,...):
    // Rollups.fold's claim is the d14 one for aggregates — per-ingest cost
    // is DELTA-sized while the state grows with history. Build the rollup
    // state from the x{k} events corpus (untimed), then time folding the
    // SAME base-sized delta (sf0.1 events, ids and ts offset above every
    // replica) into it. A flat curve across k is the claim.
    sys.env.get("SPARK_GRAFT_E5").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        import org.apache.spark.sql.functions.{col, date_trunc, expr}
        val keys = Seq("hour", "event_type")
        def hourly(df: DataFrame): DataFrame = df.select(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"), col("value"))
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          generateEvents(spark, baseDir, dir, k)
          val state = graft.operators.Rollups.fold(
            hourly(spark.read.parquet(s"$dir/events.parquet")),
            graft.operators.Rollups.emptyRollup(spark,
              Seq("hour" -> org.apache.spark.sql.types.TimestampType,
                "event_type" -> org.apache.spark.sql.types.StringType)),
            keys).localCheckpoint()
          val stateRows = state.count()
          val delta = hourly(graft.core.Tables(spark, baseDir).events
            .withColumn("ts", expr("timestampadd(DAY, 80000, ts)")))
          spark.catalog.clearCache(); System.gc()
          val q0 = System.nanoTime()
          val next = graft.operators.Rollups.fold(delta, state, keys)
          val nextRows = materialize(next)
          val sec = (System.nanoTime() - q0) / 1e9
          println(s"""{"scale":$k,"variant":"e5_ingest","sec":${f2(sec)},"state_rows":$stateRows,"state_rows_after":$nextRows}""")
        }
        spark.stop()
        return
      }

    // Z-order layout experiment (SPARK_GRAFT_L1=k1,k2,...): the layout
    // claim splits like n7 — the REWRITE costs one range shuffle of the
    // corpus (paid once, timed separately), and the box PROBE costs the
    // stats-intersecting row groups only. For each k: rewrite the x{k}
    // events corpus z-ordered over (user_id, ts), time the l1 box probe
    // against it, and record the footer-level fraction of rows in
    // intersecting row groups — the I/O the reader cannot skip. The probe
    // matches only replica-0 rows (later replicas shift user ids and
    // years), so result size is constant while the corpus grows: a flat
    // probe curve with a shrinking read fraction is the claim.
    sys.env.get("SPARK_GRAFT_L1").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        import org.apache.spark.sql.functions.{col, date_format, round => fround, to_timestamp, lit, unix_timestamp}
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          generateEvents(spark, baseDir, dir, k)
          val ld = s"$ScaleRoot/zorder_x$k"
          spark.catalog.clearCache(); System.gc()
          val b0 = System.nanoTime()
          graft.queries.Layout.buildZorderLayout(spark, dir, ld)
          val buildSec = (System.nanoTime() - b0) / 1e9
          // footer-level prune fraction for the l1 box (user_id 5-9 x 3 days)
          val tLo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00").getTime / 1000
          val tHi = java.sql.Timestamp.valueOf("2024-01-13 00:00:00").getTime / 1000
          val gs = graft.operators.DataLayout.rowGroupStats(
            spark, ld, "user_id", "ts")
          val total = gs.map(_._3).sum.toDouble
          val hit = gs.filter { case ((uMin, uMax), (tsMin, tsMax), _) =>
            // parquet timestamp stats are micros since epoch
            uMax >= 5 && uMin <= 9 &&
              tsMax / 1000000 >= tLo && tsMin / 1000000 < tHi
          }.map(_._3).sum.toDouble
          spark.catalog.clearCache(); System.gc()
          val p0 = System.nanoTime()
          val rows = materialize(spark.read.parquet(ld)
            .filter(col("user_id").between(5, 9) &&
              col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
              col("ts") < to_timestamp(lit("2024-01-13 00:00:00")))
            .select(col("event_id"), col("user_id"),
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
              col("event_type"), fround(col("value"), 2).as("value")))
          val probeSec = (System.nanoTime() - p0) / 1e9
          println(s"""{"scale":$k,"variant":"l1","build_sec":${f2(buildSec)},"probe_sec":${f2(probeSec)},"rows":$rows,"row_groups":${gs.size},"read_fraction":${f2(hit / total * 100)}}""")
        }
        spark.stop()
        return
      }

    // Quantile-pair experiment (SPARK_GRAFT_Z3=k1,k2,...): z3b's reason to
    // exist is what happens to the two quantile plans as the table grows —
    // z3's exact path sorts each group (a per-group global sort whose
    // partition is ONE task per group), while z3b's sketch is a mergeable
    // partial aggregate that rides the scan's split parallelism. The
    // replica is the base lineitem duplicated k-fold (quantile targets are
    // rank-relative, so the workload grows while the answer's position
    // structure is preserved), written with multi-file parallel splits —
    // which also retires the fixture footnote: z3b's sf0.1 serial floor is
    // the single-row-group file, not the plan. z3b's guarantee booleans
    // are re-CHECKED at every scale (the output IS the check).
    sys.env.get("SPARK_GRAFT_Z3").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        ks.foreach { k =>
          val dir = s"$ScaleRoot/z_x$k"
          val done = new java.io.File(s"$dir/_GENERATED")
          if (!done.exists()) {
            spark.read.parquet(s"$baseDir/lineitem.parquet")
              .select("l_returnflag", "l_extendedprice")
              .crossJoin(broadcast(spark.range(0, k)))
              .drop("id")
              .repartition(spark.sparkContext.defaultParallelism)
              .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
            java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
          }
          Seq("z3_price_quantiles", "z3b_price_quantiles_approx").foreach { q =>
            spark.catalog.clearCache(); System.gc()
            val t0 = System.nanoTime()
            val out = SparkEntry.queries(q)(spark, dir).collect()
            val sec = (System.nanoTime() - t0) / 1e9
            val allOk =
              if (q.startsWith("z3b"))
                out.forall(r => (2 to 4).forall(i => r.getBoolean(i)))
              else true
            println(s"""{"scale":$k,"variant":"z3","query":"$q","sec":${f2(sec)},"rows":${out.length},"guarantee_ok":$allOk}""")
          }
        }
        spark.stop()
        return
      }

    // High-cardinality quantile experiment (SPARK_GRAFT_Z3G=k1,k2,...):
    // the round-13 driver-budget claim is that exact selection at MANY
    // groups costs extra passes, never driver memory — the per-pass
    // bucket fan-out shrinks to keep |tasks|·buckets under the ~1M-row
    // budget (20k groups → up to 120k open tasks → 8 buckets/task), so
    // the collect stays bounded while each pass is still one scan. The
    // replica keys lineitem by hash(l_orderkey) mod 20k (uniform groups,
    // ~3k rows each at x100) and runs the same 3-percentile selection the
    // z3 fixture runs over 3 groups. The wall should track the SCAN count
    // (more, narrower passes), not blow up in the group count.
    sys.env.get("SPARK_GRAFT_Z3G").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        ks.foreach { k =>
          val dir = s"$ScaleRoot/zg_x$k"
          val done = new java.io.File(s"$dir/_GENERATED")
          if (!done.exists()) {
            spark.read.parquet(s"$baseDir/lineitem.parquet")
              .select(pmod(xxhash64(col("l_orderkey")), lit(20000L)).as("g"),
                col("l_extendedprice"))
              .crossJoin(broadcast(spark.range(0, k)))
              .drop("id")
              .repartition(spark.sparkContext.defaultParallelism)
              .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
            java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
          }
          val li = spark.read.parquet(s"$dir/lineitem.parquet")
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          val q = graft.queries.Sketches.groupQuantilesExact(
            li, "g", "l_extendedprice", Seq(0.5, 0.9, 0.99))
          val sec = (System.nanoTime() - t0) / 1e9
          println(s"""{"scale":$k,"variant":"z3g","groups":${q.size},"sec":${f2(sec)}}""")
        }
        spark.stop()
        return
      }

    // Targeted-delete experiment (SPARK_GRAFT_X4=k1,k2,...): x4's scale
    // claim is that a fixed-size deletion request costs the AFFECTED
    // shards — read |affected|, rewrite |changed| — while the zone grows.
    // For each k: build the incremental export zone from the x{k} corpus
    // (timed separately: the amortized cost a pipeline already pays), then
    // delete the SAME four base doc ids (timed). Both curves grow with the
    // corpus — a shard is 1/16th of it — but the delete's slope must stay
    // ~|affected|/16 of the build's; a delete that secretly rescans the
    // zone would track the build curve instead.
    sys.env.get("SPARK_GRAFT_X4").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        val victimIds = Seq(83L, 166L, 249L, 332L)
        val shards = victimIds.map(graft.pipeline.ExportJob.shardOf).distinct
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          val zone = s"$ScaleRoot/export_x$k"
          graft.core.FsUtil.deleteRecursively(zone)
          spark.catalog.clearCache(); System.gc()
          val b0 = System.nanoTime()
          graft.pipeline.ExportJob.writeTrainingShardsIncremental(spark, dir, zone)
          val buildSec = (System.nanoTime() - b0) / 1e9
          spark.catalog.clearCache(); System.gc()
          val d0 = System.nanoTime()
          graft.pipeline.ExportJob.deleteFromShards(spark, zone, victimIds)
          val delSec = (System.nanoTime() - d0) / 1e9
          // x6 leg: land a fixed 4-row patch (re-adding the deleted ids
          // with marker text) — same affected shards, same fixed request
          // size against the growing zone
          val patch = spark.read.parquet(s"$dir/documents.parquet")
            .filter(col("doc_id").isin(victimIds: _*))
            .select(col("doc_id"), concat(col("text"), lit(" PATCH")).as("text"),
              col("lang"), col("source"))
          spark.catalog.clearCache(); System.gc()
          val u0 = System.nanoTime()
          graft.pipeline.ExportJob.upsertShards(spark, zone, patch)
          val upSec = (System.nanoTime() - u0) / 1e9
          println(s"""{"scale":$k,"variant":"x4","build_sec":${f2(buildSec)},"delete_sec":${f2(delSec)},"upsert_sec":${f2(upSec)},"affected_shards":${shards.size},"total_shards":${graft.pipeline.ExportJob.IncrementalShards}}""")
        }
        spark.stop()
        return
      }

    // Re-shard experiment (SPARK_GRAFT_RESHARD=k1,k2,...): the migration
    // op the r11 export curve proved necessary (maintenance cost is
    // |affected| x zone/shards, so the count must grow with the corpus —
    // and it is fixed per zone lifetime). For each k: build the
    // incremental zone at the 16-shard default (timed: the cost a
    // pipeline already pays), migrate 16 -> 256 with ExportJob.reshard
    // (timed: one read + one rebalance + atomic swap — deliberately
    // zone-sized, paid once), then run the SAME fixed 4-id delete and
    // 4-row upsert as the x4 experiment against the MIGRATED zone. r11
    // measured x100 delete at 2.9 s when the zone is BORN at 256 shards;
    // the claim here is that the migrated zone hits the same floor.
    sys.env.get("SPARK_GRAFT_RESHARD").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        val victimIds = Seq(83L, 166L, 249L, 332L)
        val to = 256
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          val zone = s"$ScaleRoot/reshard_x$k"
          graft.core.FsUtil.deleteRecursively(zone)
          spark.catalog.clearCache(); System.gc()
          val b0 = System.nanoTime()
          graft.pipeline.ExportJob.writeTrainingShardsIncremental(spark, dir,
            zone, requestedShards = Some(16))
          val buildSec = (System.nanoTime() - b0) / 1e9
          spark.catalog.clearCache(); System.gc()
          val r0 = System.nanoTime()
          graft.pipeline.ExportJob.reshard(spark, zone, to)
          // vacuum inside the timed region: the pre-r14 reshard deleted the
          // superseded layout inline, so reshard+vacuum is the comparable cost
          graft.pipeline.ExportJob.vacuumLayouts(zone)
          val reSec = (System.nanoTime() - r0) / 1e9
          assert(graft.pipeline.ExportJob.zoneShards(zone).contains(to))
          spark.catalog.clearCache(); System.gc()
          val d0 = System.nanoTime()
          graft.pipeline.ExportJob.deleteFromShards(spark, zone, victimIds)
          val delSec = (System.nanoTime() - d0) / 1e9
          val patch = spark.read.parquet(s"$dir/documents.parquet")
            .filter(col("doc_id").isin(victimIds: _*))
            .select(col("doc_id"), concat(col("text"), lit(" PATCH")).as("text"),
              col("lang"), col("source"))
          spark.catalog.clearCache(); System.gc()
          val u0 = System.nanoTime()
          graft.pipeline.ExportJob.upsertShards(spark, zone, patch)
          val upSec = (System.nanoTime() - u0) / 1e9
          println(s"""{"scale":$k,"variant":"reshard","build_sec":${f2(buildSec)},"reshard_sec":${f2(reSec)},"delete_sec":${f2(delSec)},"upsert_sec":${f2(upSec)},"from":16,"to":$to}""")
        }
        spark.stop()
        return
      }

    // Skew experiment (SPARK_GRAFT_SKEW=<k>): a corpus where one 8-token
    // boilerplate sentence appears in EVERY document, so each of its
    // word-3-grams has df = 5000k/k per replica — far over MaxGramDf. Run
    // d5 on it; pair with a second invocation built with Dedup.MaxGramDf
    // raised to 10000000 to measure the unguarded hot-bucket blow-up.
    sys.env.get("SPARK_GRAFT_SKEW").map(_.toInt).foreach { k =>
      val dir = s"$ScaleRoot/x${k}skew"
      generate(spark, baseDir, dir, k, boilerplate = true)
      Dedup.clearMemos(); graft.queries.Similarity.clearQuantMemo(); spark.catalog.clearCache(); System.gc()
      val q0 = System.nanoTime()
      val rows = materialize(SparkEntry.queries("d5_ngram_jaccard")(spark, dir))
      val sec = (System.nanoTime() - q0) / 1e9
      println(s"""{"scale":$k,"variant":"skew","query":"d5_ngram_jaccard","max_gram_df":${Dedup.MaxGramDf},"sec":${f2(sec)},"rows":$rows}""")
      spark.stop()
      return
    }

    // Fixed-batch ingest experiment (SPARK_GRAFT_D14=k1,k2,...): the claim
    // behind TextDedup.incrementalVerdicts is that per-ingest cost is
    // BATCH-sized while the ledger grows with corpus history. Proof shape:
    // build the bucket ledger from the x{k} corpus (untimed), then time
    // ingesting the SAME base-sized batch (sf0.1 docs, ids offset above
    // every replica) against it — a flat curve across k is the claim.
    sys.env.get("SPARK_GRAFT_D14").map(_.split(",").map(_.trim.toInt).toSeq)
      .foreach { ks =>
        import org.apache.spark.sql.functions.{col, min => fmin}
        ks.foreach { k =>
          val dir = s"$ScaleRoot/x$k"
          generate(spark, baseDir, dir, k)
          val corpus = spark.read.parquet(s"$dir/documents.parquet")
          val ledger = graft.operators.TextDedup
            .minhashBandsAgg(corpus)
            .groupBy("band", "bh").agg(fmin("doc_id").as("min_doc_id"))
            .localCheckpoint()
          val ledgerRows = ledger.count()
          val batch = spark.read.parquet(s"$baseDir/documents.parquet")
            .withColumn("doc_id", col("doc_id") + (200L * IdOffset))
          Dedup.clearMemos(); graft.queries.Similarity.clearQuantMemo(); spark.catalog.clearCache(); System.gc()
          val q0 = System.nanoTime()
          val (v, next) = graft.operators.TextDedup.incrementalVerdicts(batch, ledger)
          val rows = materialize(v)
          val nextRows = materialize(next)
          val sec = (System.nanoTime() - q0) / 1e9
          println(s"""{"scale":$k,"variant":"d14_ingest","sec":${f2(sec)},"rows":$rows,"ledger_rows":$ledgerRows,"ledger_rows_after":$nextRows}""")
        }
        spark.stop()
        return
      }

    // Interval-join rule experiment (SPARK_GRAFT_IVLJOIN=<n>): the same
    // bounded-interval self-join over n events spelled two ways — the
    // two-inequality form (`l.ts <= r.ts + w AND l.ts >= r.ts - w`), which
    // the RewriteIntervalJoin rule deliberately does not match and Spark
    // must nested-loop, vs the `abs(l.ts - r.ts) <= w` form the rule
    // rewrites to the bucket equi-join. Identical results, same session,
    // same data: the gap is purely the rule's plan.
    sys.env.get("SPARK_GRAFT_IVLJOIN").map(_.toInt).foreach { n =>
      import org.apache.spark.sql.functions.{col, unix_micros}
      val ev = graft.core.Tables(spark, baseDir).events
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .limit(n).localCheckpoint()
      ev.createOrReplaceTempView("ivl_ev")
      val w = 60L * 1000000L // 1 minute in micros
      def run(label: String, sql: String): Unit = {
        val q0 = System.nanoTime()
        val rows = materialize(spark.sql(sql))
        val sec = (System.nanoTime() - q0) / 1e9
        val plan = spark.sql(sql).queryExecution.executedPlan.toString
        val shape =
          if (plan.contains("BroadcastNestedLoopJoin")) "nested-loop"
          else if (plan.contains("CartesianProduct")) "cartesian"
          else "hash"
        println(s"""{"variant":"ivljoin","n":$n,"spelling":"$label","join":"$shape","sec":${f2(sec)},"rows":$rows}""")
      }
      run("abs-rewritten",
        s"""SELECT a.event_id, b.event_id FROM ivl_ev a JOIN ivl_ev b
           |ON abs(a.ts_us - b.ts_us) <= $w AND a.event_id < b.event_id""".stripMargin)
      run("two-inequality-naive",
        s"""SELECT a.event_id, b.event_id FROM ivl_ev a JOIN ivl_ev b
           |ON a.ts_us <= b.ts_us + $w AND a.ts_us >= b.ts_us - $w
           |  AND a.event_id < b.event_id""".stripMargin)
      spark.stop()
      return
    }

    val results = scala.collection.mutable.ArrayBuffer.empty[String]
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
      val reps = sys.env.get("SPARK_GRAFT_SCALE_REPS").map(_.toInt)
        .getOrElse(if (k <= 10) 2 else 1)
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
        var best = Double.MaxValue
        var rows = -1L
        (1 to reps).foreach { _ =>
          // cold per rep: no memoized signatures, no cached frames, fresh
          // GC baseline — the curve must measure end-to-end per-query cost
          Dedup.clearMemos(); graft.queries.Similarity.clearQuantMemo()
          spark.catalog.clearCache()
          System.gc()
          val q0 = System.nanoTime()
          try {
            rows = materialize(fn(spark, dir))
            best = math.min(best, (System.nanoTime() - q0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[scale] x$k $name failed: ${e.getMessage}")
          }
        }
        val line =
          s"""{"scale":$k,"query":"$name","sec":${f2(best)},"rows":$rows}"""
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
  }
}
