package graft

import java.io.FileNotFoundException
import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import graft.io.ForklessRawLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The engine's raw local filesystem against Hadoop's stock one, file by
  * file, with no Spark session: each in-process call must leave the disk and
  * return the status the forked command did.
  */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def init(fs: FileSystem): FileSystem = { fs.initialize(URI.create("file:///"), new Configuration()); fs }
  private lazy val forkless = init(new ForklessRawLocalFileSystem)
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val root: JPath = Files.createTempDirectory("graft_localfs_")

  private def both(name: String): Seq[(FileSystem, JPath)] =
    Seq(forkless, stock).map { fs =>
      val d = root.resolve(s"$name-${fs.getClass.getSimpleName}")
      Files.createDirectories(d)
      fs -> d
    }

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(root.toFile) finally super.afterAll()

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort
  private def mode(p: JPath): String = (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff).toOctalString

  test("setPermission leaves the same mode bits as chmod") {
    for (bits <- Seq("600", "644", "700", "755", "750", "000")) {
      val modes = both(s"mode$bits").map { case (fs, d) =>
        val file = Files.createFile(d.resolve("f"))
        val dir = Files.createDirectory(d.resolve("d"))
        Seq(file, dir).foreach(p => fs.setPermission(new Path(p.toString), new FsPermission(octal(bits))))
        val seen = Seq(file, dir).map(Files.getPosixFilePermissions(_))
        Seq(file, dir).foreach(p => Files.setPosixFilePermissions(p, java.util.EnumSet.allOf(
          classOf[java.nio.file.attribute.PosixFilePermission])))
        seen
      }
      assert(modes.distinct.size == 1, s"mode $bits")
    }
  }

  test("a sticky-bit directory ends with the same mode, and its status says sticky") {
    val seen = both("sticky").map { case (fs, d) =>
      val dir = new Path(d.resolve("t").toString)
      assert(fs.mkdirs(dir))
      fs.setPermission(dir, new FsPermission(octal("1777")))
      (mode(d.resolve("t")), fs.getFileStatus(dir).getPermission.getStickyBit)
    }
    assert(seen == Seq(("1777", true), ("1777", true)))
  }

  test("getFileLinkStatus matches readlink's answer for files, directories and links") {
    val shapes = both("links").map { case (fs, d) =>
      val file = Files.write(d.resolve("file"), "abc".getBytes)
      val dir = Files.createDirectory(d.resolve("dir"))
      val link = Files.createSymbolicLink(d.resolve("link"), file)
      val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
      for {
        p <- Seq(file, dir, link, dangling)
        path <- Seq(new Path(p.toString), new Path(p.toUri))
      } yield (p.getFileName.toString, path.toUri.getScheme, scala.util.Try(fs.getFileLinkStatus(path)).toEither
        .left.map(_.getClass.getSimpleName)
        .map { s =>
          val target = if (s.isSymlink) Some(s.getSymlink.toUri.getPath.replace(d.toString, "")) else None
          (s.isSymlink, target, s.isDirectory, s.getLen)
        })
    }
    assert(shapes.head == shapes(1))
    // readlink resolves an unqualified path, so both links report as links
    assert(shapes.head.count(_._3.exists(_._1)) == 2, shapes.head)
  }

  test("getFileLinkStatus on a missing path throws FileNotFoundException") {
    both("missing").foreach { case (fs, d) =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(d.resolve("absent").toString)))
    }
  }

  test("the in-process calls start no thread") {
    val threads = ManagementFactory.getThreadMXBean
    val (fs, d) = both("threads").head
    val f = new Path(Files.createFile(d.resolve("f")).toString)
    val before = threads.getTotalStartedThreadCount
    (1 to 20).foreach { _ =>
      fs.setPermission(f, new FsPermission(octal("644")))
      fs.getFileLinkStatus(f)
    }
    assert(threads.getTotalStartedThreadCount - before == 0)
  }
}
