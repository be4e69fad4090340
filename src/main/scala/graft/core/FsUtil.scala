package graft.core

import java.nio.file.{Files, Path, Paths}

/** Driver-side filesystem helpers (never used inside a distributed
  * operator): local-path cleanup for fixture/test zones, plus the
  * scheme-aware existence probe and metadata signature the index
  * artifacts' freshness checks route through.
  */
object FsUtil {

  /** Whether every path exists, each resolved through the Hadoop
    * [[FileSystem]] of the path's OWN scheme — `file:`, `hdfs://`,
    * `s3a://` alike — with ONE Hadoop conf construction for the batch.
    * The java.nio spelling this replaces is scheme-blind: on a remote FS
    * it reports every artifact missing — the hazard class the round-15
    * sweep killed in Layout.compactRoundtrip (SCALING.md). Its one caller
    * is the IVF+PQ ledger self-heal's probe for `ledger/`.
    */
  def allExist(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    paths.forall { path =>
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(conf).exists(p)
    }
  }
  /** Metadata signature of every file under the given paths (recursive):
    * each file's qualified path, length, and mtime, sorted — one metadata
    * listing per path, no Spark jobs. Used to key process-resident caches
    * of persisted artifacts (the quantizer-read memo, n13's build memo):
    * any rewrite changes the part-file names (task UUIDs) and mtimes, and
    * a deleted file drops out of the listing, so a stale cache entry can
    * never match a mutated artifact. A missing path contributes
    * a distinct `absent:` token rather than throwing — the caller's actual
    * read supplies the real error.
    */
  def filesSig(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): String = {
    val conf = spark.sessionState.newHadoopConf()
    val parts = Seq.newBuilder[String]
    for (path <- paths) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) parts += s"absent:$path"
      else {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          parts += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
        }
      }
    }
    parts.result().sorted.mkString("|")
  }

  def deleteRecursively(dir: String): Unit = {
    val root: Path = Paths.get(dir)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      import scala.util.Using
      // Files.walk holds directory handles until closed — Using guarantees
      // release even when a delete throws (this runs per-query in Verify).
      val paths = Using.resource(Files.walk(root))(_.iterator().asScala.toSeq)
      paths.reverse.foreach(p => Files.deleteIfExists(p))
    }
  }
}
