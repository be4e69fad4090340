package graft.pipeline

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.Row

import graft.SparkTestBase
import graft.core.{NioLocalFileSystem, NioRawLocalFileSystem}

/** Pins the executor-sink configuration contract: the sinks resolve
  * filesystems from a serialized snapshot of the DRIVER's effective
  * Hadoop conf, so settings that exist only driver-side (programmatic
  * `hadoopConfiguration.set`, `spark.hadoop.*` — object-store
  * credentials, `fs.defaultFS`) reach the executors. A bare
  * executor-side `new Configuration()` sees none of them (asserted here
  * as the negative control), which is the silent-local-disk-write hazard
  * the capture exists to close.
  */
class ExecutorFsSpec extends SparkTestBase {

  test("capture snapshots driver-side programmatic conf a bare Configuration never sees") {
    val key = "graft.test.executorfs.captured"
    spark.sparkContext.hadoopConfiguration.set(key, "yes")
    try {
      assert(ExecutorFs.capture(spark).value.get(key) === "yes")
      // the negative control: classpath-only loading drops the setting —
      // this is exactly what the sinks did before the capture fix
      assert(new Configuration().get(key) === null)
    } finally spark.sparkContext.hadoopConfiguration.unset(key)
  }

  test("file: resolves to NioLocalFileSystem on the driver and through the shipped conf") {
    val probe = new Path(s"file://${scratch("executorfs-impl")}")
    val shipped = {
      val bos = new ByteArrayOutputStream()
      val oos = new ObjectOutputStream(bos)
      oos.writeObject(ExecutorFs.capture(spark))
      oos.close()
      new ObjectInputStream(new ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[SerializableHadoopConf].value
    }
    for (conf <- Seq(spark.sessionState.newHadoopConf(), shipped)) {
      val fs = probe.getFileSystem(conf)
      assert(fs.getClass === classOf[NioLocalFileSystem])
      // the checksummed wrapper stays: only the raw layer is replaced
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    }
  }

  test("SerializableHadoopConf survives the java-serialization trip into a closure") {
    val conf = new Configuration(false)
    conf.set("graft.test.executorfs.roundtrip", "v1")
    conf.set("fs.defaultFS", "file:///")
    val bytes = {
      val bos = new ByteArrayOutputStream()
      val oos = new ObjectOutputStream(bos)
      oos.writeObject(new SerializableHadoopConf(conf))
      oos.close()
      bos.toByteArray
    }
    val back = new ObjectInputStream(new ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[SerializableHadoopConf]
    assert(back.value.get("graft.test.executorfs.roundtrip") === "v1")
    assert(back.value.get("fs.defaultFS") === "file:///")
  }

  test("writeFiles writes through the captured conf's filesystem and rejects null paths loudly") {
    val dir = scratch("executorfs-write")
    val hconf = ExecutorFs.capture(spark)
    val rows = Iterator(Row("a", "payload-a"), Row("b", "payload-b"))
    ExecutorFs.writeFiles(rows, hconf,
      pathOf = r => s"$dir/${r.getString(0)}.bin",
      bytesOf = r => r.getString(1).getBytes("UTF-8"))
    val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/a.bin"))
    assert(new String(a, "UTF-8") === "payload-a")
    val e = intercept[IllegalArgumentException] {
      ExecutorFs.writeFiles(Iterator(Row(null, "x")), hconf,
        pathOf = r => if (r.isNullAt(0)) null else s"$dir/${r.getString(0)}.bin",
        bytesOf = _ => Array.emptyByteArray)
    }
    assert(e.getMessage.contains("null-derived path"))
  }
}
