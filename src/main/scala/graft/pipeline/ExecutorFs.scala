package graft.pipeline

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}

/** The driver's effective Hadoop configuration, made serializable so
  * executor-side sinks resolve filesystems with the SAME settings the
  * driver's reads use. `Configuration` itself is not `Serializable`; this
  * wrapper round-trips it through its own `write`/`readFields` (the same
  * trick Spark's internal `SerializableConfiguration` uses — that class is
  * `private[spark]` at the Scala level, so the engine carries its own
  * 15-line twin rather than reflecting into Spark internals).
  *
  * Why capturing matters: a bare executor-side `new Configuration()` loads
  * ONLY the classpath site files, silently dropping everything the driver
  * set programmatically or via `spark.hadoop.*` — object-store credentials
  * (fs.s3a.access.key), endpoint overrides, and `fs.defaultFS`. With
  * defaultFS set only in the Spark conf, a scheme-less sink root would
  * resolve to the executor-LOCAL filesystem: rows land on local disk while
  * the job reports success — the silent-loss hazard this class exists to
  * close. Credentialed s3a/abfs writes would fail loudly instead, but
  * loud-vs-silent is not a property to gamble on.
  */
final class SerializableHadoopConf(@transient private var conf: Configuration)
    extends Serializable {

  def value: Configuration = conf

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

/** Executor-side file sink shared by the four binary writers (raw PDFs,
  * page JPEGs, silver JSON, crop JPEGs): one file per row, written through
  * the destination path's OWN Hadoop filesystem.
  *
  * Why not java.nio: `Paths.get("hdfs://nn/zone/…")` is a RELATIVE local
  * path (`hdfs:` becomes a path segment), so on a scheme-qualified root
  * every executor would "successfully" write into its task working
  * directory and the job would report success while the real zone stays
  * empty — end-to-end silent row loss, the same hazard class the
  * export-zone metadata port closed driver-side. The Hadoop `Path`/
  * `FileSystem` route resolves `file:`, `hdfs://`, `s3a://` uniformly, and
  * `FileSystem.create` creates parent directories itself.
  *
  * Executor-side configuration: callers `capture` the session's effective
  * Hadoop conf ON THE DRIVER (it overlays `spark.hadoop.*` and programmatic
  * settings onto the site files) and the serialized copy rides into the
  * `foreachPartition` closure — see [[SerializableHadoopConf]] for why a
  * bare executor-side `new Configuration()` is a silent-loss hazard. The
  * FileSystem handle is resolved once per partition (it is the per-scheme
  * cached instance, not per-row work).
  *
  * A `file:` root resolves to `graft.core.NioLocalFileSystem`, which the
  * captured conf names (`GraftSession.local` sets `fs.file.impl`): stock
  * `LocalFileSystem` sets each new file's, `.crc`'s and directory's
  * permissions by running `chmod` when the native libhadoop is absent,
  * which cost more than the write itself for one small page or crop.
  */
private[pipeline] object ExecutorFs {

  /** Driver-side: snapshot the session's effective Hadoop configuration
    * (site files + `spark.hadoop.*` + programmatic overrides) for shipment
    * into executor closures.
    */
  def capture(spark: SparkSession): SerializableHadoopConf =
    new SerializableHadoopConf(spark.sessionState.newHadoopConf())

  /** Write `bytesOf(row)` at `pathOf(row)` for every row of one partition.
    * `pathOf` returning null means a key column the path interpolates was
    * null (callers map null components to a null path) — fail the task
    * loudly rather than writing a file literally named "null" that no
    * downstream glob will ever match.
    */
  def writeFiles(rows: Iterator[Row], hconf: SerializableHadoopConf,
      pathOf: Row => String, bytesOf: Row => Array[Byte]): Unit = {
    var fs: FileSystem = null
    rows.foreach { r =>
      val raw = pathOf(r)
      require(raw != null,
        "binary sink got a null-derived path - an upstream key column " +
          "(province/date/page/file) was null; such rows must be filtered " +
          "or quarantined before the sink")
      val p = new Path(raw)
      if (fs == null) fs = p.getFileSystem(hconf.value)
      val out = fs.create(p, true)
      try out.write(bytesOf(r)) finally out.close()
    }
  }
}
