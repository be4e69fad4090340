package graft.core

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkTestBase

/** Pins that [[NioLocalFileSystem]] and [[NioLocalFs]] leave every file
  * and directory with the permissions stock `LocalFileSystem` and `LocalFs`
  * give it, and report links as they do: they change how the bits are set
  * and links are found (in-process, not by a `chmod` or `readlink`
  * process), never what comes out.
  */
class NioLocalFileSystemSpec extends SparkTestBase {

  private def opened(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(path: String): Int =
    Files.getAttribute(Paths.get(path), "unix:mode").asInstanceOf[Int] & 0xfff

  /** create + mkdirs through `fs` under `root`: the modes of a nested new
    * directory, a file made with its parents, and the file's `.crc`.
    */
  private def modesAfterWrites(fs: FileSystem, root: String): Seq[Int] = {
    assert(fs.mkdirs(new Path(s"$root/made/nested")))
    val out = fs.create(new Path(s"$root/zone/p=1/part-0.bin"), true)
    try out.write(Array.fill[Byte](700)(7)) finally out.close()
    Seq(s"$root/made", s"$root/made/nested", s"$root/zone", s"$root/zone/p=1",
      s"$root/zone/p=1/part-0.bin", s"$root/zone/p=1/.part-0.bin.crc").map(mode)
  }

  test("create and mkdirs leave the permissions stock LocalFileSystem leaves, per umask") {
    for (umask <- Seq("022", "027", "077")) {
      val dir = scratch(s"niofs-modes-$umask")
      val stock = modesAfterWrites(opened(new LocalFileSystem(), umask), s"$dir/stock")
      val nio = modesAfterWrites(opened(new NioLocalFileSystem(), umask), s"$dir/nio")
      assert(nio === stock, s"umask $umask")
      val dirMode = 0x1ff & ~Integer.parseInt(umask, 8)
      assert(nio.head === dirMode)
    }
  }

  test("an explicit setPermission of 0640 round-trips") {
    val dir = scratch("niofs-0640")
    val fs = opened(new NioLocalFileSystem(), "022")
    val p = new Path(s"$dir/f.bin")
    fs.create(p, true).close()
    fs.setPermission(p, new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(s"$dir/f.bin")))
      === "rw-r-----")
    assert(fs.getFileStatus(p).getPermission.toShort === Integer.parseInt("640", 8))
  }

  test("bits NIO cannot set survive: a requested sticky bit, an inherited setgid") {
    val dir = scratch("niofs-special")
    val fs = opened(new NioLocalFileSystem(), "022")
    val sticky = new Path(s"$dir/sticky")
    assert(fs.mkdirs(sticky))
    fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(s"$dir/sticky") === Integer.parseInt("1777", 8))
    // a directory made inside a setgid directory inherits setgid; Hadoop's
    // numeric chmod keeps it, and so must the in-process path
    Files.createDirectories(Paths.get(s"$dir/shared"))
    assert(new ProcessBuilder("chmod", "2755", s"$dir/shared").start().waitFor() === 0)
    val stock = opened(new LocalFileSystem(), "022")
    assert(stock.mkdirs(new Path(s"$dir/shared/stock")))
    assert(fs.mkdirs(new Path(s"$dir/shared/nio")))
    assert(mode(s"$dir/shared/nio") === mode(s"$dir/shared/stock"))
    assert((mode(s"$dir/shared/nio") & Integer.parseInt("2000", 8)) != 0)
  }

  test("a session's FileContext binds file: to NioLocalFs") {
    val conf = spark.sessionState.newHadoopConf()
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).getClass === classOf[NioLocalFs])
  }

  /** A checkpoint-log commit through `FileContext` under `root`: a new
    * directory, a temp file renamed over its final name, and the modes of
    * the directory, the file and its `.crc`.
    */
  private def modesAfterCommit(fc: FileContext, root: String): Seq[Int] = {
    fc.mkdir(new Path(s"$root/offsets"), FsPermission.getDirDefault, true)
    val tmp = new Path(s"$root/offsets/.0.tmp")
    val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write("v1".getBytes("UTF-8")) finally out.close()
    fc.rename(tmp, new Path(s"$root/offsets/0"), Options.Rename.OVERWRITE)
    Seq(s"$root/offsets", s"$root/offsets/0", s"$root/offsets/.0.crc").map(mode)
  }

  test("a FileContext commit leaves the modes stock LocalFs leaves") {
    val dir = scratch("niofs-filecontext")
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val stock = modesAfterCommit(FileContext.getFileContext(conf), s"$dir/stock")
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val nio = FileContext.getFileContext(conf)
    assert(nio.getDefaultFileSystem.getClass === classOf[NioLocalFs])
    assert(modesAfterCommit(nio, s"$dir/nio") === stock)
  }

  test("getFileLinkStatus reports a link as a link and a file as a file") {
    val dir = scratch("niofs-links")
    val (stock, nio) = (opened(new LocalFileSystem(), "022"), opened(new NioLocalFileSystem(), "022"))
    Files.write(Paths.get(s"$dir/target.bin"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(Paths.get(s"$dir/link.bin"), Paths.get(s"$dir/target.bin"))
    for (name <- Seq("target.bin", "link.bin")) {
      val (a, b) = (stock.getFileLinkStatus(new Path(s"$dir/$name")),
        nio.getFileLinkStatus(new Path(s"$dir/$name")))
      assert((b.isSymlink, b.isFile, b.getLen) === ((a.isSymlink, a.isFile, a.getLen)), name)
      if (a.isSymlink) assert(b.getSymlink === a.getSymlink)
    }
    assert(nio.getFileLinkStatus(new Path(s"$dir/link.bin")).isSymlink)
  }
}
