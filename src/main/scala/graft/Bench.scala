package graft
import org.apache.spark.sql.DataFrame

import graft.core.{GraftSession, WorkDirs}

object Bench {
  /** Force execution of EVERY output column. A bare count() lets Catalyst
    * prune away projection-only work (the scan short-circuits to row
    * counting), so expression-heavy queries would report near-zero time;
    * consuming the plan's own UnsafeRows instead materializes all columns
    * without bolting an extra aggregation exchange onto every query.
    */
  private def materialize(df: DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** One full timed sweep over the selected queries, with its own
    * calibration canary (3 shots at the start, 1 mid-run, 1 at the end).
    * `firsts` holds each query's rep-1 seconds beside the reported
    * `results`.
    */
  private final case class Pass(
      results: Seq[(String, Option[Double])],
      firsts: Seq[(String, Double)],
      canaryTimes: Seq[Double],
      startSpread: Double,
      runSpread: Double,
      noisy: Boolean,
      protocol: String)

  private def spread(ts: Seq[Double]): Double =
    if (ts.isEmpty || ts.min == 0) 0.0 else (ts.max - ts.min) / ts.min

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", WorkDirs.testData("0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local("graft-bench", cores = cpus.toInt)
    // Untimed warm-up: absorb JVM classloading + codegen compilation so the
    // first timed query isn't charged for it (it was ~5 s of noise).
    SparkEntry.queries.get("q6_revenue_forecast").foreach { fn =>
      materialize(fn(spark, sfDir))
    }
    // SPARK_GRAFT_ONLY=q1,q2 limits the run (local iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

    // STREAMING PROTOCOL FLOOR: every st* entry pays a fixed Structured
    // Streaming replay tax — checkpoint + state-store setup, micro-batch
    // scheduling, the memory sink, awaitTermination — before its operator
    // does any work. Measure that tax directly as a PASS-THROUGH stream
    // (same file source, no stateful operator) so a reader can subtract
    // it: st* entry ≈ floor + operator cost, and an st query within ~2×
    // of the floor is protocol-bound, not plan-bound (the decomposition
    // SCALING.md's streaming section reads against the oracle ratios).
    // Skipped (floor = -1) when an ONLY filter selects no streaming
    // query: a single-query batch iteration shouldn't pay two replays.
    val wantFloor = only.forall(_.exists(_.startsWith("st")))
    val protocolFloor = if (!wantFloor) -1.0 else {
      var n = 0
      def shot(): Option[Double] = {
        n += 1
        System.gc()
        val t0 = System.nanoTime()
        try {
          // replayOnce, not replayToTable: the floor must pay the same
          // protocol the st* entries pay (single-batch drain since r11)
          graft.streaming.EventStreams.replayOnce(
            graft.streaming.EventStreams.readEvents(spark, sfDir)
              .select("event_id"),
            s"bench_floor_$n",
            org.apache.spark.sql.streaming.OutputMode.Append()).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          // NonFatal only: a broken replayToTable must read as a loud
          // failure (floor=-1 + stderr), while a genuinely fatal JVM
          // state (OOM, interrupt) must propagate, not continue a
          // corrupted bench
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] protocol-floor shot failed: $e")
            None
        }
      }
      Seq(shot(), shot()).flatten.minOption.getOrElse(-1.0)
    }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // CALIBRATION CANARY: the round-5 driver bench read 20% hot purely from
    // box load, which nearly booked as a code regression. A fixed query
    // (q6: one scan + one agg, warm plan) re-timed at the start, middle and
    // end of the run makes load-inflated runs SELF-IDENTIFYING — the canary
    // has no code-change axis, so its spread across the run is pure
    // environment. Three start shots also pick the rep protocol: a noisy
    // box (>15% spread) switches every query from min-of-2 to
    // median-of-3, trading ~40% more bench time for order statistics that
    // a single GC pause or scheduler stall can't swing.
    val canaryFn = SparkEntry.queries("q6_revenue_forecast")
    def runPass(): Pass = {
      // write-roundtrip hygiene (r19 band bisection, SCALING.md): x3/x4/
      // x6 rebuild their export zones per invocation, but the zones'
      // PARENT directory inode ages across a long session (directory
      // entries never shrink locally; thousands of create/delete cycles
      // leave large sparse dirs), and the r19 pair bisected the band
      // drift to exactly this family. Dropping the parent per pass gives
      // every pass fresh directory state, so the family's timings
      // measure the operators, not the session's age.
      graft.core.FsUtil.deleteRecursively(graft.queries.Sampling.ExportZonesRoot)
      val canaryTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      def canary(): Unit = {
        System.gc()
        val t0 = System.nanoTime()
        materialize(canaryFn(spark, sfDir))
        canaryTimes += (System.nanoTime() - t0) / 1e9
      }
      (1 to 3).foreach(_ => canary())
      val startSpread = spread(canaryTimes.toSeq)
      // both a relative AND an absolute bar: q6 runs ~0.25 s, where ±50 ms
      // of scheduler jitter is intrinsic (measured on an idle box) — only a
      // spread big in seconds AND in ratio indicates actual load
      val startNoisy = startSpread > 0.15 &&
        (canaryTimes.max - canaryTimes.min) > 0.1
      val reps = if (startNoisy) 3 else 2
      val mid = selected.size / 2
      val timed = selected.zipWithIndex.map { case ((name, fn), qi) =>
        if (qi == mid) canary()
        // best of two runs: single-shot numbers swing ±15% from GC/JIT
        // noise (measured across identical runs); min-of-2 reports the
        // query's actual cost, not whichever pause landed on it. A run that
        // throws contributes NO time — a broken query must read as failed,
        // not as a fast time-to-exception.
        val shots = (1 to reps).map { rep =>
          // clean slate between queries: prior queries' garbage (shuffle
          // buffers, codegen classes) otherwise bills GC pauses to whoever
          // runs next — measured up to 8x inflation on trivial projections
          System.gc()
          val t0 = System.nanoTime()
          try {
            materialize(fn(spark, sfDir))
            val sec = (System.nanoTime() - t0) / 1e9
            if (sys.env.contains("SPARK_GRAFT_VERBOSE"))
              System.err.println(f"[bench] $name rep$rep: $sec%.3f s")
            Some(sec)
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None
          }
        }
        val times = shots.flatten
        // min-of-2 on a calm box (a rep's actual cost); median-of-3 on a
        // noisy one (min would still pick up a lucky gap, median can't be
        // swung by one stall)
        val t =
          if (times.isEmpty) None
          else if (startNoisy && times.size >= 3)
            Some(times.sorted.apply(times.size / 2))
          else Some(times.min)
        (name -> t, shots.head.map(name -> _))
      }
      val results = timed.map(_._1)
      canary()
      val runSpread = spread(canaryTimes.toSeq)
      // run-level noise: either the start shots already disagreed, or the
      // canary drifted across the sweep (the BENCH_r06 signature: calm
      // start, loaded middle)
      val noisy = startNoisy ||
        (runSpread > 0.15 && (canaryTimes.max - canaryTimes.min) > 0.1)
      Pass(results, timed.flatMap(_._2), canaryTimes.toSeq, startSpread,
        runSpread, noisy,
        if (startNoisy) "median-of-3" else "min-of-2")
    }

    // NOISE GATE: a pass that self-identifies as load-inflated is re-run
    // ONCE after a cooldown, and the CALMER pass (smaller full-run canary
    // spread) is reported — both passes' canaries are recorded so a reader
    // can see the retry happened. BENCH_r06 knew it was noisy (canary
    // run_spread 0.7) and shipped anyway; this turns that self-knowledge
    // into a second chance instead of a footnote. SPARK_GRAFT_BENCH_RETRY=0
    // disables the retry (local iteration aid).
    val pass1 = runPass()
    val retryOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY", "1") != "0"
    val passes =
      if (pass1.noisy && retryOn) {
        System.err.println(
          s"[bench] canary flagged load (start_spread ${pass1.startSpread}," +
            s" run_spread ${pass1.runSpread}); cooling down 20 s and re-running")
        System.gc()
        Thread.sleep(20000)
        Seq(pass1, runPass())
      } else Seq(pass1)
    val chosen = passes.minBy(_.runSpread)
    // NOISE-PROOF HEADLINE: when the retry fired, neither pass alone is
    // trustworthy — BENCH_r09's two passes disagreed by 16% with both
    // canaries flagged, and the calmer-canary pass still carried
    // load-inflated entries. The per-query MIN across passes is the best
    // available estimate of each query's actual cost (each number is a
    // real completed run; load only ever ADDS time), so the headline is
    // min-of-passes; both per-pass totals stay in `passes` for the
    // spread. A query counts as failed only if it failed in EVERY pass.
    val headline: Seq[(String, Option[Double])] =
      if (passes.size == 1) chosen.results
      else chosen.results.map { case (name, _) =>
        val ts = passes.flatMap(_.results.collectFirst {
          case (`name`, Some(t)) => t
        })
        name -> ts.minOption
      }

    // 2-decimal (10 ms) precision, trailing zeros stripped, sf as basename:
    // keeps every line compact for consumers that retain a bounded tail
    def f3(v: Double): String =
      java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .stripTrailingZeros().toPlainString()
    def qjson(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    def canaryJsonOf(p: Pass): String =
      s"""{"times":${p.canaryTimes.map(f3).mkString("[", ",", "]")},""" +
        s""""start_spread":${f3(p.startSpread)},"run_spread":${f3(p.runSpread)},""" +
        s""""noisy":${p.noisy},""" +
        s""""protocol":"${p.protocol}"}"""
    val failed = headline.collect { case (n, None) => n }
    val ok = headline.collect { case (n, Some(t)) => n -> t }
    val sfName = new java.io.File(sfDir).getName
    // Output layout for a consumer that keeps only a bounded TAIL of
    // stdout: the full per-query detail goes FIRST in small chunks, and
    // the one-line summary goes LAST so it always survives truncation.
    // The summary's own `queries` map carries only the slowest entries —
    // the full 70+-query map is what overran the tail in earlier rounds.
    ok.grouped(12).zipWithIndex.foreach { case (grp, i) =>
      println(s"""{"metric":"queries","part":${i + 1},"queries":${qjson(grp)}}""")
    }
    val total = ok.map(_._2).sum
    val slowest = ok.sortBy(-_._2).take(20).sortBy(_._1)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Canary record for the CHOSEN pass, plus every pass's canary (a
    // one-pass run reads exactly as before; a retried run shows both). A
    // reader comparing this bench line against another round's divides out
    // the canary ratio before calling anything a regression.
    val canaryJson = canaryJsonOf(chosen)
    val passesJson =
      passes.map(p => s"""{"total":${f3(p.results.collect {
        case (_, Some(t)) => t
      }.sum)},"canary":${canaryJsonOf(p)}}""").mkString("[", ",", "]")
    // The stdout tail only reliably carries the summary line; persist the
    // COMPLETE per-query map to a file so the fast half of the suite keeps
    // a timing history across rounds too.
    val headlineProto =
      if (passes.size == 1) "single-pass" else "min-of-passes"
    // COLD-SIDE RECORD beside the headline: each query's first timed run
    // in this process (pass 1, rep 1). A memo that another query fills
    // within the pass still makes rep 2 cheaper than rep 1, so `first`
    // minus `queries` shows what the remaining warm hits save.
    val firsts = pass1.firsts
    val detail =
      s"""{"sf":"$sfName","n_queries":${ok.size},"total":${f3(total)},"headline":"$headlineProto","failed":$failedJson,"stream_protocol_floor":${f3(protocolFloor)},"canary":$canaryJson,"passes":$passesJson,"queries":${qjson(ok)},"first_total":${f3(firsts.map(_._2).sum)},"first":${qjson(firsts)}}"""
    val detailPath = java.nio.file.Paths.get(WorkDirs.target("bench_detail.json"))
    java.nio.file.Files.createDirectories(detailPath.getParent)
    java.nio.file.Files.write(detailPath, detail.getBytes("UTF-8"))
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","headline":"$headlineProto","queries":${qjson(slowest)},"n_queries":${ok.size},"failed":$failedJson,"stream_protocol_floor":${f3(protocolFloor)},"canary":$canaryJson,"passes":$passesJson,"sf":"$sfName"}""")
    spark.stop()
  }
}
