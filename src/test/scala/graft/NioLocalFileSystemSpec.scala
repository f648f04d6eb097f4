package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.io.NioLocalFileSystem

/** The sessions' fork-free local filesystem sets exactly the permissions
  * the stock `LocalFileSystem` sets, without forking `chmod`.
  */
class NioLocalFileSystemSpec extends SparkSuite {

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def open(fs: LocalFileSystem, c: Configuration): LocalFileSystem = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def octal(s: String): FsPermission =
    new FsPermission(Integer.parseInt(s, 8).toShort)

  /** Relative path → permission string of every file and directory under `root`. */
  private def modes(root: JPath): Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap
    finally walk.close()
  }

  /** A directory, a nested directory and a file (with its `.crc`), made
    * by `fs` under `root` with the filesystem's default permissions.
    */
  private def populate(fs: FileSystem, root: JPath): Unit = {
    val dir = new Path(root.toUri.toString, "a/b")
    assert(fs.mkdirs(dir))
    val out = fs.create(new Path(dir, "part-0"), true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(root.toUri.toString, "c"),
      FsPermission.getDirDefault))
  }

  test("created files and directories get the stock permissions under umask 022 and 077") {
    for ((umask, file, dir) <- Seq(("022", "rw-r--r--", "rwxr-xr-x"),
        ("077", "rw-------", "rwx------"))) {
      val c = conf(umask)
      val stockRoot = Files.createTempDirectory("graft-fs-stock")
      val nioRoot = Files.createTempDirectory("graft-fs-nio")
      populate(open(new LocalFileSystem(), c), stockRoot)
      populate(open(new NioLocalFileSystem(), c), nioRoot)
      val stock = modes(stockRoot)
      assert(modes(nioRoot) === stock, s"umask $umask")
      assert(stock.keySet === Set("a", "a/b", "a/b/part-0",
        "a/b/.part-0.crc", "c"))
      assert(stock("a/b/part-0") === file && stock("a/b/.part-0.crc") === file)
      assert(stock("c") === dir, s"umask $umask")
    }
  }

  test("setPermission sets 0644, 0755, 0600 and 0700 like the stock filesystem") {
    val c = conf("022")
    val stock = open(new LocalFileSystem(), c)
    val nio = open(new NioLocalFileSystem(), c)
    for (perm <- Seq("644", "755", "600", "700")) {
      val want = octal(perm).toString
      for (fs <- Seq(stock, nio)) {
        val root = Files.createTempDirectory("graft-fs-mode")
        val file = Files.write(root.resolve("f"), Array[Byte](1))
        val dir = Files.createDirectory(root.resolve("d"))
        for (p <- Seq(file, dir)) {
          fs.setPermission(new Path(p.toUri.toString), octal(perm))
          assert(mode(p) === want, s"${fs.getClass.getSimpleName} $perm $p")
        }
      }
    }
  }

  test("a sticky-bit permission takes Hadoop's fallback") {
    val nio = open(new NioLocalFileSystem(), conf("022"))
    val dir = Files.createTempDirectory("graft-fs-sticky")
    nio.setPermission(new Path(dir.toUri.toString), octal("1755"))
    // java.nio's permission set cannot express the sticky bit: it is set
    // only if Hadoop's own implementation ran
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) ===
      Integer.parseInt("1755", 8))
  }

  test("FileSystem.getLocal and the session's file: filesystem are the fork-free one") {
    val c = conf("022")
    c.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    val local: LocalFileSystem = FileSystem.getLocal(c)
    assert(local.isInstanceOf[NioLocalFileSystem])
    assert(local.getRaw.isInstanceOf[NioLocalFileSystem.Raw])
    assert(new Path("file:///").getFileSystem(spark.sparkContext
      .hadoopConfiguration).isInstanceOf[NioLocalFileSystem])
  }
}
