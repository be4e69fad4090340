package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{Pipeline, VisionExtractor}
import graft.streaming.{PipelineStreams, StreamMetrics}

/** Replays generated extractor answers by page key: the seeded stand-in
  * for the vision model. A page the generator did not answer reads `[]`. */
final class BenchExtractor(answers: Map[String, String]) extends VisionExtractor {
  override def extract(imageBytes: Array[Byte], pageKey: String): String =
    answers.getOrElse(pageKey, "[]")
}

/** `ingest`: each op lands one day's catalogue drop in the raw zone, runs
  * the streaming DAG (`PipelineStreams.runDag`) and reads the wave's
  * partitions back from the clean zone. Set-up lands the pre-seed waves
  * and ingests them in one runDag, the warm-up op.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._

  private val in = s"${ctx.inputs}/ingest"
  private val zones = Pipeline.Zones(s"${ctx.program}/zones")
  private val preseed = ctx.args("preseed").toInt
  private val nWaves = ctx.args("waves").toInt
  private def drop(w: Int) = f"drop_$w%04d"

  private val answers: Seq[(Int, String, String)] =
    Files.readAllLines(Paths.get(s"$in/answers.tsv")).asScala.toSeq.map { l =>
      val Array(w, k, t) = l.split("\t", 3)
      (w.toInt, k, t)
    }
  /** Per wave, per flyer: the ledger the zones must match after it. */
  private val expect: Map[Int, Seq[Flyer]] =
    Files.readAllLines(Paths.get(s"$in/expect.tsv")).asScala.toSeq.map { l =>
      val f = l.split("\t")
      Flyer(f(0).toInt, f(1), f(2), f(3).toLong, f(4).toLong, f(5).toLong, f(6).toLong, f(7).toLong)
    }.groupBy(_.wave)

  private def extractor(w: Int) =
    new BenchExtractor(answers.filter(_._1 <= w).map(a => a._2 -> a._3).toMap)

  // last measured totals per flyer, so a traced op can report its deltas
  private val seen = scala.collection.mutable.Map.empty[(String, String), (Long, Long, Long)]
  private var before: Snapshot = _
  private var consumed = preseed

  private def land(w: Int): Unit =
    ctx.tracer.span("bench.land") { Fs.copyTree(s"$in/${drop(w)}", s"${zones.raw}/${drop(w)}") }

  /** Lands every pre-seed drop and ingests them with one runDag, which
    * builds the base state too: the pre-seeded zone. */
  def warmup(spark: SparkSession): Unit = {
    (0 until preseed).foreach(land)
    PipelineStreams.runDag(spark, zones, extractor(preseed - 1))
  }

  def baseState(spark: SparkSession): Unit = ()

  def available(i: Int): Boolean = preseed + i < nWaves

  def label(i: Int): String = f"wave_${preseed + i}%04d"

  def op(spark: SparkSession, i: Int): Op = {
    val w = preseed + i
    consumed = w + 1
    val flyers = expect(w)
    if (ctx.tracer.enabled) before = ctx.tracer.span("trace.snapshot") { snapshot() }
    land(w)
    val metrics = if (ctx.tracer.enabled) {
      ctx.tracer.resetTerminated()
      StreamMetrics.attach(spark)
    } else null
    val dagSpan = ctx.tracer.span("pipeline.runDag") {
      PipelineStreams.runDag(spark, zones, extractor(w))
      ctx.tracer.openSpanId
    }
    if (metrics != null) ctx.tracer.span("trace.stream_metrics") {
      ctx.tracer.awaitTerminated(StreamsPerDag)
      metrics.detach()
      recordTriggers(metrics, dagSpan)
    }
    val counts = ctx.tracer.span("bench.readback") {
      val keys = flyers.map(f => (f.province, f.flyer))
      spark.read.parquet(zones.clean)
        .filter(keys.map { case (p, d) => col("province") === p && col("date_range") === d }.reduce(_ || _))
        .groupBy("province", "date_range").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    Op(f"wave_$w%04d", flyers.map(_.newPages).sum, counts)
  }

  /** Trigger spans and events from the program's StreamMetrics, placed on
    * the time axis by the trigger start times the tracer recorded. */
  private def recordTriggers(m: StreamMetrics, parent: Int): Unit =
    for (b <- m.batches; t0 <- ctx.tracer.triggerStart(b.query, b.batchId)) {
      val d = b.durationMs
      val stage = b.query.stripPrefix("graft-").stripSuffix("-stream")
      val trig = ctx.tracer.addSpan(s"streaming.trigger.$stage", parent, t0,
        t0 + d.getOrElse("triggerExecution", 0L) * 1000000L)
      val pre = Seq("latestOffset", "queryPlanning", "getBatch", "walCommit")
        .map(d.getOrElse(_, 0L)).sum
      val add0 = t0 + pre * 1000000L
      ctx.tracer.addSpan(s"pipeline.$stage", trig, add0, add0 + d.getOrElse("addBatch", 0L) * 1000000L)
      val durs = d.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      ctx.tracer.event(s"""{"k":"trigger","op":${ctx.tracer.currentOp},"stage":"$stage",""" +
        s""""t":$t0,"rows":${b.inputRows},"dur":{$durs}}""")
    }

  def check(spark: SparkSession, i: Int, op: Op): Seq[String] = {
    val w = preseed + i
    val counts = op.payload.asInstanceOf[Map[(String, String), Long]]
    val quarantine = s"${zones.clean}_quarantine"
    val bad =
      if (!Fs.exists(quarantine)) Map.empty[String, Long]
      else spark.read.parquet(quarantine).filter(col("reason") === "unparseable")
        .select(regexp_extract(col("src_path"), "/PnP/([^/]+/[^/]+)/[^/]+$", 1).as("k"),
          col("src_path")).distinct().groupBy("k").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val errs = Seq.newBuilder[String]
    var rows, crops, quar = 0L
    for (f <- expect(w)) {
      val key = (f.province, f.flyer)
      val got = counts.getOrElse(key, 0L)
      // Hadoop's local filesystem writes a hidden .crc beside each file
      val nCrops = Fs.files(s"${zones.shr}/PnP/${f.province}/${f.flyer}")
        .count(!_.getFileName.toString.startsWith(".")).toLong
      val nBad = bad.getOrElse(s"${f.province}/${f.flyer}", 0L)
      if (got != f.cleanRows) errs += s"$key: ${got} clean rows, ledger says ${f.cleanRows}"
      if (nCrops != f.crops) errs += s"$key: $nCrops crop files, ledger says ${f.crops}"
      if (nBad != f.unparseable) errs += s"$key: $nBad quarantined pages, planted ${f.unparseable}"
      // a flyer first seen during set-up starts from its ledger totals
      val (r0, c0, q0) = seen.getOrElse(key, expect.toSeq.filter(_._1 < w).flatMap(_._2)
        .filter(x => (x.province, x.flyer) == key).sortBy(_.wave).lastOption
        .map(x => (x.cleanRows, x.crops, x.unparseable)).getOrElse((0L, 0L, 0L)))
      rows += got - r0; crops += nCrops - c0; quar += nBad - q0
      seen(key) = (got, nCrops, nBad)
    }
    if (ctx.tracer.enabled) {
      val after = snapshot()
      val products = expect(w).map(_.newProducts).sum
      stats(i) = Zone.all.map(z => s"pipeline.bytes_written.$z" ->
        (after.bytes(z) - before.bytes(z)).toDouble).toMap ++ Map(
        "pipeline.files_written" -> (after.files - before.files).toDouble,
        "pipeline.clean_rewrite_bytes" -> before.partitions.collect {
          case (p, (bytes, mtime)) if after.partitions.get(p).exists(_._2 != mtime) => bytes
        }.sum.toDouble,
        "pipeline.rows_clean" -> rows.toDouble,
        "pipeline.rows_quarantined" -> quar.toDouble,
        "pipeline.crops" -> crops.toDouble,
        "pipeline.products_emitted" -> products.toDouble)
    }
    errs.result()
  }

  private val stats = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
  override def checkStats(i: Int): Map[String, Double] = stats.getOrElse(i, Map.empty)

  private case class Snapshot(bytes: Map[String, Long], files: Long,
      partitions: Map[String, (Long, Long)])

  private def snapshot(): Snapshot = {
    val dirs = Map(
      Zone.Interim -> Seq(zones.interim), Zone.Silver -> Seq(zones.silver),
      Zone.Clean -> Seq(zones.clean, s"${zones.clean}_quarantine"),
      Zone.Shr -> Seq(zones.shr), Zone.Ckpt -> Seq(s"${zones.root}/ckpt"))
    val files = dirs.map { case (z, ds) => z -> ds.flatMap(Fs.files) }
    val parts = Fs.files(zones.clean).filter(_.getFileName.toString.endsWith(".parquet"))
      .groupBy(_.getParent.toString).map { case (p, fs) =>
        p -> (fs.map(Files.size).sum, fs.map(Files.getLastModifiedTime(_).toMillis).max) }
    Snapshot(files.map { case (z, fs) => z -> fs.map(Files.size).sum },
      files.values.map(_.size.toLong).sum, parts)
  }

  def writtenBytes: Long = Fs.bytes(ctx.program) - Fs.bytes(zones.raw)
  def inputBytes: Long = (0 until consumed).map(w => Fs.bytes(s"$in/${drop(w)}")).sum +
    answers.filter(_._1 < consumed).map(_._3.getBytes("UTF-8").length.toLong).sum
}

object Ingest {
  /** convert, extract, clean and crop */
  val StreamsPerDag = 4

  final case class Flyer(wave: Int, province: String, flyer: String, cleanRows: Long,
      crops: Long, unparseable: Long, newPages: Long, newProducts: Long)

  object Zone {
    val Interim = "interim"
    val Silver = "silver"
    val Clean = "clean"
    val Shr = "shr"
    val Ckpt = "ckpt"
    val all: Seq[String] = Seq(Interim, Silver, Clean, Shr, Ckpt)
  }
}
