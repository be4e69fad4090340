package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's calls into each layer, plus the events of
  * Spark's public listeners, kept in memory and written out when the run
  * ends. Events carry their own timestamps; `metrics.py` attributes each
  * one to the innermost span open at that time, so the listener threads
  * never need to know which span is current.
  *
  * A disabled tracer records nothing and registers no listener: the
  * untraced run pays one branch per span.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val events = ArrayBuffer.empty[String]
  // epoch-ms listener timestamps -> this JVM's nanoTime axis
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nanosOf(epochMs: Long): Long = nano0 + (epochMs - wall0) * 1000000L

  var currentOp: Int = -1

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      currentOp, System.nanoTime())
    spans += s
    stack = s :: stack
    try body
    finally {
      s.t1 = System.nanoTime()
      stack = stack.tail
    }
  }

  /** A span whose interval is known only after the fact (a streaming
    * trigger, read from its progress event). */
  def addSpan(name: String, parent: Int, t0: Long, t1: Long): Int = {
    val s = Span(spans.size, name, parent, currentOp, t0, t1)
    spans += s
    s.id
  }

  def openSpanId: Int = stack.headOption.map(_.id).getOrElse(-1)

  def event(json: String): Unit = if (enabled) events.synchronized { events += json }

  // ------------------------------------------------------------ listeners
  private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
  private val stageAcc = scala.collection.concurrent.TrieMap.empty[Int, Array[Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      event(s"""{"k":"job_start","job":${e.jobId},"t":${nanosOf(e.time)}}""")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      event(s"""{"k":"job_end","job":${e.jobId},"t":${nanosOf(e.time)}}""")
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val a = stageAcc.getOrElseUpdate(e.stageId, new Array[Long](11))
      a.synchronized {
        a(0) += 1
        a(1) += m.executorRunTime
        a(2) += m.executorCpuTime
        a(3) += m.jvmGCTime
        a(4) += m.shuffleReadMetrics.totalBytesRead
        a(5) += m.shuffleWriteMetrics.bytesWritten
        a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(7) += m.inputMetrics.bytesRead
        a(8) += m.outputMetrics.bytesWritten
        a(9) += m.resultSize
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val a = stageAcc.remove(id).getOrElse(new Array[Long](11))
      val job = stageJob.getOrElse(id, -1)
      event(s"""{"k":"stage","stage":$id,"job":$job,"tasks":${a(0)},""" +
        s""""run_ms":${a(1)},"cpu_ns":${a(2)},"gc_ms":${a(3)},""" +
        s""""shuffle_read":${a(4)},"shuffle_write":${a(5)},"spill":${a(6)},""" +
        s""""input":${a(7)},"output":${a(8)},"result":${a(9)}}""")
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  /** Analysis, optimization and planning time of one query execution,
    * stamped at the end of its planning phase. */
  private def phases(qe: QueryExecution): Unit = if (enabled) {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(x => x.endTimeMs - x.startTimeMs).getOrElse(0L)
    val t = p.get("planning").orElse(p.get("analysis"))
      .map(x => nanosOf(x.endTimeMs)).getOrElse(System.nanoTime())
    event(s"""{"k":"qe","t":$t,"analysis_ms":${ms("analysis")},""" +
      s""""optimization_ms":${ms("optimization")},"planning_ms":${ms("planning")}}""")
  }

  /** Trigger start times and the query-termination barrier. Durations come
    * from the program's own [[graft.streaming.StreamMetrics]]. */
  private val starts = scala.collection.concurrent.TrieMap.empty[(String, Long), Long]
  @volatile private var terminated = 0
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      starts.put((p.name, p.batchId),
        nanosOf(java.time.Instant.parse(p.timestamp).toEpochMilli))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated += 1
  }

  def triggerStart(query: String, batch: Long): Option[Long] = starts.get((query, batch))

  /** Block until `n` queries have terminated since the last reset: a
    * query's progress events are posted before its termination event, so
    * after this every trigger of those queries has been seen. */
  def awaitTerminated(n: Int, timeoutMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (terminated < n && System.currentTimeMillis() < end) Thread.sleep(5)
  }
  def resetTerminated(): Unit = { terminated = 0; starts.clear() }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def json: String = {
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""t0":${s.t0},"t1":${s.t1}}""")
    val ev = events.synchronized(events.toVector)
    s"""{"spans":[${sp.mkString(",")}],"events":[${ev.mkString(",")}]}"""
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      t0: Long, var t1: Long = -1L)
}
