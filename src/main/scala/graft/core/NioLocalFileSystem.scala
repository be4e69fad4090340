package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with `setPermission` done in-process.
  *
  * Without the native libhadoop, `RawLocalFileSystem.setPermission` runs a
  * `chmod` process, and Hadoop calls it for every file it creates, every
  * `.crc` sidecar and every new directory. Every zone here is a `file:`
  * path, so one perfbench ingest run (set-up and one wave) ran 1,051
  * `chmod` processes (SCALING.md, "Local writes set permissions
  * in-process"). This class applies the 9 rwx bits with one
  * `Files.setPosixFilePermissions` call instead. Where that call would
  * lose a bit it keeps Hadoop's own: a requested sticky bit, which NIO
  * cannot express, and a setuid/setgid bit the path already carries
  * (`chmod(2)` with 9 bits clears them; Hadoop's numeric `chmod` keeps
  * them on a directory that inherited setgid).
  *
  * `getFileLinkStatus`, which every `FileContext` rename calls on both
  * paths, runs a `readlink` process the same way; here it asks NIO
  * whether the path is a link and keeps Hadoop's call for links only.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    // 0xc00: setuid | setgid
    if (permission.getStickyBit || (NioRawLocalFileSystem.mode(file) & 0xc00) != 0)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(file, NioRawLocalFileSystem.rwx(permission.toShort))
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object NioRawLocalFileSystem {

  // OWNER_READ (0400) down to OTHERS_EXECUTE (0001), in declaration order
  private val Bits = PosixFilePermission.values

  private def mode(file: JPath): Int =
    Files.getAttribute(file, "unix:mode").asInstanceOf[Int]

  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(Bits(i)))
    s
  }
}

/** The `file:` filesystem of every session [[GraftSession.local]] builds
  * (`spark.hadoop.fs.file.impl`): stock `LocalFileSystem` — `.crc`
  * sidecars included — over [[NioRawLocalFileSystem]]. Every `file:`
  * writer that resolves through the session's Hadoop conf uses it: the
  * executor sinks (`ExecutorFs`), Spark's parquet writes and commits, and
  * the clean zone's swap.
  *
  * Hadoop caches one `FileSystem` per scheme and user whatever the conf
  * asks for, so this class takes effect only if the session creates the
  * JVM's first `file:` instance. `GraftSession.local` does: the session
  * is built before anything in the engine resolves a filesystem. Not
  * covered: `ExportJob`'s `new Configuration()` fallback outside any
  * session. Hadoop's other API, `FileContext`, which writes the streaming
  * checkpoint logs, binds `file:` to [[NioLocalFs]] instead.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioLocalFileSystem]]'s twin for `FileContext`
  * (`spark.hadoop.fs.AbstractFileSystem.file.impl`), which writes,
  * renames and lists the streaming checkpoint logs: Hadoop's `LocalFs`,
  * the same checksums over a delegate, with [[NioRawLocalFileSystem]] as
  * the raw layer. `FileContext` caches no instance, so it takes effect on
  * every checkpoint of a session `GraftSession.local` built.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
      // what Hadoop's RawLocalFs answers
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
