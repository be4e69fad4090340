package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One timed op: the units of work it completed, the per-layer gauges the
  * harness read around it (traced runs only) and whatever its untimed
  * output check needs. */
final case class Op(label: String, units: Long, payload: Any = null,
    stats: Map[String, Double] = Map.empty)

/** A workload: set-up state, a closed loop of ops, and the untimed checks.
  * Each op's inputs were generated before the JVM started; the program
  * sees only those files. */
trait Workload {
  def warmup(spark: SparkSession): Unit
  def baseState(spark: SparkSession): Unit
  def available(i: Int): Boolean
  def label(i: Int): String
  def op(spark: SparkSession, i: Int): Op
  /** Failure messages; empty when the op's outputs are correct. */
  def check(spark: SparkSession, i: Int, op: Op): Seq[String]
  /** Gauges the check measured, such as the index's recall. */
  def checkStats(i: Int): Map[String, Double] = Map.empty
  /** Untimed artifacts for the checks `check.py` makes after the run. */
  def finish(spark: SparkSession): Unit = ()
  def writtenBytes: Long
  def inputBytes: Long
}

final case class Ctx(inputs: String, work: String, tracer: Tracer, seed: Long,
    args: Map[String, String]) {
  val program: String = s"$work/program"
  val checks: String = s"$work/checks"
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = args("seconds").toDouble
    val tracer = new Tracer(args.getOrElse("trace", "0") == "1")
    val ctx = Ctx(args("inputs"), args("work"), tracer, args("seed").toLong, args)
    val wl: Workload = args("workload") match {
      case "ingest" => new Ingest(ctx)
      case "curation" => new Curation(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = new StringBuilder("{")

    // ---------------------------------------------------------------- setup
    // one set-up per run: the JVM is cold, so a repeated set-up would time
    // a warm one, and the runs' time budget has no room for it
    val s0 = System.nanoTime()
    val spark = tracer.span("core.session") { GraftSession.local("perfbench") }
    tracer.attach(spark)
    val s1 = System.nanoTime()
    tracer.span("core.warmup") { wl.warmup(spark) }
    val s2 = System.nanoTime()
    tracer.span("core.base_state") { wl.baseState(spark) }
    val s3 = System.nanoTime()
    val setup = Seq(s3 - s0, s1 - s0, s2 - s1, s3 - s2).map(_ / 1e9)
    out ++= s""""setup":[${setup.mkString("[", ",", "]")}],"""
    out ++= s""""cores":${spark.sparkContext.defaultParallelism},"""

    // ----------------------------------------------------------- timed loop
    val heap = new HeapWatch
    val ops = ArrayBuffer.empty[String]
    var timed = 0.0
    var i = 0
    while (wl.available(i) && timed < seconds) {
      tracer.currentOp = i
      var t0, t1 = 0L
      val result = heap.op {
        t0 = System.nanoTime()
        try Right(tracer.span("op") { wl.op(spark, i) })
        catch { case e: Exception => Left(e) }
        finally t1 = System.nanoTime()
      }
      timed += (t1 - t0) / 1e9
      val errors = result match {
        case Left(e) => Seq(s"op threw: $e")
        case Right(op) =>
          try tracer.span("bench.check") { wl.check(spark, i, op) }
          catch { case e: Exception => Seq(s"check threw: $e") }
      }
      val op = result.getOrElse(Op(wl.label(i), 0))
      val stats = (op.stats ++ wl.checkStats(i)).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      ops += s"""{"id":$i,"label":"${op.label}","t0":$t0,"t1":$t1,"units":${op.units},""" +
        s""""ok":${errors.isEmpty},"errors":${errors.map(Json.str).mkString("[", ",", "]")},""" +
        s""""stats":{$stats}}"""
      errors.foreach(e => System.err.println(s"[perfbench] op $i (${op.label}): $e"))
      i += 1
    }
    tracer.currentOp = -1
    out ++= s""""ops":${ops.mkString("[", ",", "]")},"""
    out ++= s""""peak_heap_mb":${heap.peakMb},"heap_samples":${heap.samples},"""
    tracer.span("bench.finish") { wl.finish(spark) }
    out ++= s""""written_bytes":${wl.writtenBytes},"input_bytes":${wl.inputBytes},"""
    out ++= s""""trace":${tracer.json}}"""
    spark.stop()
    Files.writeString(Paths.get(args("out")), out.toString)
  }
}

/** Heap the ops retain: heap in use (the heap pools only) right after a
  * full collection the harness forces, untimed, at the end of every op while
  * the op's outputs are still referenced. The harness collects before every
  * op too, so a reading holds what the op and its predecessors keep (results,
  * memos, cached blocks, state) and not the garbage a young collection
  * happened to leave, which moves with GC scheduling rather than with the
  * program. */
final class HeapWatch {
  private val mem = ManagementFactory.getMemoryMXBean
  private var peak = 0L
  var samples = 0
  /** Time an op; collect before and after it, outside the op. */
  def op[T](body: => T): T = {
    System.gc()
    val result = body
    System.gc()
    peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
    samples += 1
    result
  }
  def peakMb: Double = peak / 1048576.0
}

object Fs {
  def exists(p: String): Boolean = Files.exists(Paths.get(p))

  def files(p: String): Seq[Path] =
    if (!exists(p)) Nil
    else {
      val s = Files.walk(Paths.get(p))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }

  def bytes(p: String): Long = files(p).map(Files.size).sum

  def delete(p: String): Unit = graft.core.FsUtil.deleteRecursively(p)

  def copyTree(src: String, dst: String): Unit = files(src).foreach { f =>
    val t = Paths.get(dst).resolve(Paths.get(src).relativize(f))
    Files.createDirectories(t.getParent)
    Files.copy(f, t)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
