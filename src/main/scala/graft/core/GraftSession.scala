package graft.core

import org.apache.spark.sql.SparkSession

/** The only session factory: Bench, Verify, the test suite, the scale
  * studies and the benchmark harness all run on a [[local]] session, and
  * [[tune]] gives a session it did not build the same runtime posture —
  * so the plan Verify checks is the plan Bench times.
  *
  * Local mode is for correctness testing only; the confs are chosen so the
  * same logical plans scale to a real cluster: AQE on (runtime re-plan,
  * skew-join splitting), dynamic partition overwrite (idempotent
  * per-partition rewrites mirroring the reference's `overwrite_partitions`
  * semantics, reference `data_cleaner/pnp-cleanerLambda.py:116`), UTC.
  */
object GraftSession {

  /** The runtime SQL confs for a session with `cores` task threads. */
  def sqlConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // oversize the pre-coalesce partition count: big shuffles (26M-row
    // gram explodes at ScaleStress x100) sort/aggregate in right-sized
    // chunks instead of spilling 32 oversized partitions, and AQE
    // coalesces small stages back down so tiny queries pay nothing.
    // This is the standard AQE sizing posture at scale (partition count
    // tracks data volume, not core count).
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      (cores * 16).toString,
    // Spark's 10 MB broadcast default is sized for ~1 GB executors; on
    // realistic memory a ~100 MB dimension/count frame broadcasts far
    // cheaper than re-shuffling a corpus-sized fact side. Measured at
    // ScaleStress x100: d5's two per-doc-count joins (500k rows, ~12 MB)
    // fell off broadcast and cost 2.2x — raising the ceiling restored
    // the linear curve. AQE still makes the per-join choice, so frames
    // that outgrow even this stay on the shuffle path.
    "spark.sql.autoBroadcastJoinThreshold" -> (128 * 1024 * 1024).toString,
    // runtime skew-join splitting: oversized partitions of a shuffle join
    // are split into subtasks (salting's join-side sibling; aggregation
    // skew is handled explicitly via graft.functions.Skew)
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // Parquet timestamps arrive both UTC-adjusted (isAdjustedToUTC=true)
    // and naive; Spark 4 infers the latter as TIMESTAMP_NTZ by default,
    // which silently changes event-time semantics (watermarks, unix_micros,
    // window boundaries) depending on how the writer flagged the column.
    // This engine's contract is wall-clock-as-UTC everywhere (session tz
    // above), matching how the DuckDB oracle reads the same files — so pin
    // every parquet timestamp to the session-tz TIMESTAMP type.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic")

  def local(appName: String = "graft", cores: Int = defaultCores,
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      // the library's full extension surface: native expressions + the
      // interval-join rewrite rule
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // relative, so it resolves under the checkout the JVM runs in; one
      // per app, so the test suite's tables never meet Bench's or Verify's
      .config("spark.sql.warehouse.dir", s"target/warehouse/$appName")
      .config("spark.ui.enabled", "false")
    // extraConfs LAST so a caller's conf beats any factory default above
    // (builder semantics: later config() wins) — an extraConf overlapping
    // a default must take effect, not silently lose to the factory
    (sqlConfs(cores) ++ extraConfs).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate silently IGNORES builder confs when a session already
    // exists in the JVM — and static confs (spark.driver.maxResultSize,
    // master, memory) can never be applied post-hoc. An extraConf that
    // didn't take effect means the caller's sizing assumption (e.g.
    // StreamScaleStress's 8g result-size guard for x100) is silently
    // void, so fail LOUDLY instead of proceeding on the wrong config.
    extraConfs.foreach { case (k, v) =>
      val actual = spark.conf.getOption(k)
      if (!actual.contains(v))
        throw new IllegalStateException(
          s"extraConf $k=$v not applied (session has ${actual.getOrElse("<unset>")}); " +
            "a pre-existing SparkSession in this JVM ignored the builder conf — " +
            "stop it first or set the conf where the session is created")
    }
    spark
  }

  def defaultCores: Int =
    math.min(Runtime.getRuntime.availableProcessors(), 32)

  /** Set [[sqlConfs]] on a session this factory did not build (one
    * handed to `SparkEntry.entry`), sized by its own parallelism.
    */
  def tune(spark: SparkSession): SparkSession = {
    sqlConfs(spark.sparkContext.defaultParallelism)
      .foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
