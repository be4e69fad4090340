package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Tables, WorkDirs}
import graft.operators.DataLayout

/** Data-layout optimization (SURVEY §2.6's clean-zone rewrite taken to its
  * scan-efficiency conclusion): the reference rebuilds its clean zone "for
  * Athena performance" (reference `data_cleaner/pnp-cleanerLambda.py:106`)
  * but the rebuild is partition-granular only — date is the one pruned
  * axis. l1 is the multi-dimensional version: the events table rewritten
  * in Morton (z-order) layout over (user_id, ts), so a per-user
  * time-window probe — the attribution/debugging access pattern — prunes
  * on BOTH axes at parquet row-group granularity.
  *
  * The query's results are layout-independent (the oracle runs the same
  * box filter over the ORIGINAL table in DuckDB; hash parity proves the
  * rewrite loses nothing), and the I/O claim is pinned structurally in
  * DataLayoutSpec from the parquet footers: at a 10%x10% box, the z
  * layout's stats-intersecting row groups hold a few percent of rows
  * where a single-column sort reads an entire dimension.
  */
object Layout {

  private def layoutDirFor(dir: String): String =
    WorkDirs.target("zorder/") + dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Rewrite events z-ordered by (user_id, epoch-seconds(ts)). The rank
    * bounds come from one metadata aggregate (min/max — driver scalars);
    * the rewrite is one range shuffle; row groups are kept small so the
    * min/max granule matches a selective probe.
    */
  def buildZorderLayout(spark: SparkSession, dir: String, outDir: String): Unit = {
    val ev = Tables(spark, dir).events
      .withColumn("ts_s", unix_timestamp(col("ts")).cast("double"))
    val statsRow = ev
      .agg(min("user_id"), max("user_id"), min("ts_s"), max("ts_s"))
      .first()
    // an empty (or all-null-keyed) table has null min/max — fail as the
    // contract error it is, not as an NPE deep in the toString below
    require(!statsRow.anyNull,
      s"zorder layout over $dir/events: empty table or null user_id/ts " +
        "(rank bounds undefined) - nothing to lay out")
    val Seq(uLo, uHi, tLo, tHi) = statsRow.toSeq.map(_.toString.toDouble)
    val n = math.max(4, (ev.count() / 250000L).toInt)
    DataLayout.zorderWrite(
      ev.drop("ts_s"),
      DataLayout.zvalue2(col("user_id"), uLo, uHi,
        unix_timestamp(col("ts")).cast("double"), tLo, tHi),
      outDir, n, rowGroupBytes = 128 * 1024)
  }

  /** l1: the per-user time-window probe over the z-ordered layout. Both
    * predicates reach the parquet reader (PushedFilters), where the
    * z-layout's row-group statistics turn them into skipped I/O.
    */
  def zorderScan(spark: SparkSession, dir: String): DataFrame = {
    val ld = layoutDirFor(dir)
    buildZorderLayout(spark, dir, ld)
    spark.read.parquet(ld)
      .filter(col("user_id").between(5, 9) &&
        col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
        col("ts") < to_timestamp(lit("2024-01-13 00:00:00")))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("event_type"), round(col("value"), 2).as("value"))
      .orderBy("event_id")
  }

  val zorderScanSql: String =
    """SELECT event_id, user_id,
      | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
      | event_type, round(value, 2) AS value
      |FROM events
      |WHERE user_id BETWEEN 5 AND 9
      |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------ l2

  /** l2: COMPACTION roundtrip — fragment the events table into 64 tiny
    * files (the shape a zone reaches after months of micro-batch
    * appends), compact to ~quarter-of-zone target files through
    * `DataLayout.compact`, and read the compacted zone back. The oracle
    * is the original table: compaction must be row-for-row invisible.
    * The file-count arithmetic and the one-file-per-partition-dir
    * contract are DataLayoutSpec's job; the gate checks the rows.
    */
  def compactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val frag = WorkDirs.target("compact/") + dir.replaceAll("[^A-Za-z0-9.]", "_") + "_frag"
    val out = WorkDirs.target("compact/") + dir.replaceAll("[^A-Za-z0-9.]", "_") + "_out"
    graft.core.FsUtil.deleteRecursively(frag)
    graft.core.FsUtil.deleteRecursively(out)
    Tables(spark, dir).events.repartition(64)
      .write.mode("overwrite").parquet(frag)
    // size the target through the zone's own Hadoop FS (DataLayout's
    // listing), not java.io.File: a scheme-qualified or defaultFS-remote
    // frag dir is invisible to File — listFiles() returns null (NPE here)
    // or, worse, sizes the rewrite from a stale same-named local dir
    val report = DataLayout.compact(spark, frag, out,
      targetBytes = math.max(1L, DataLayout.parquetBytes(spark, frag) / 4))
    require(report.filesAfter < report.filesBefore,
      s"compaction did not reduce file count: $report")
    spark.read.parquet(out)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("event_type"), round(col("value"), 2).as("value"))
      .orderBy("event_id")
  }

  val compactRoundtripSql: String =
    """SELECT event_id, user_id,
      | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
      | event_type, round(value, 2) AS value
      |FROM events
      |ORDER BY event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l2_compact_roundtrip" -> (compactRoundtrip _),
    "l1_zorder_scan" -> (zorderScan _))

  val oracles: Map[String, String] = Map(
    "l2_compact_roundtrip" -> compactRoundtripSql,
    "l1_zorder_scan" -> zorderScanSql)
}
