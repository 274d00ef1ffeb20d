package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` binding ([[NioLocalFileSystem]], [[NioLocalFs]])
  * against Hadoop's stock local filesystem, on the same temp dir: the
  * same modes, link statuses and checksum-moving renames, without the
  * stock code's `chmod`/`readlink` forks.
  */
class LocalFsSpec extends SparkSpec {
  private val root = new URI("file:///")

  private def engineConf = new Configuration(spark.sparkContext.hadoopConfiguration)
  private def stockConf = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    c
  }

  /** One engine and one stock view of `file:`, each as a FileSystem
    * (uncached) and a FileContext.
    */
  private case class Api(name: String, fs: FileSystem, fc: FileContext)
  private def apis: Seq[Api] = Seq(
    Api("engine", FileSystem.newInstance(root, engineConf),
      FileContext.getFileContext(root, engineConf)),
    Api("stock", FileSystem.newInstance(root, stockConf),
      FileContext.getFileContext(root, stockConf)))

  private def withTempDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-localfs")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** relative path → (is dir, mode bits incl. sticky) of every entry. */
  private def modes(dir: java.nio.file.Path): Map[String, (Boolean, Int)] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString -> (Files.isDirectory(p),
        Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
          .asInstanceOf[Int] & 0x0fff)
    }.toMap finally s.close()
  }

  test("the session binds file: to the engine's filesystem for both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  test("files and dirs get the stock modes through FileSystem and FileContext") {
    withTempDir { dir =>
      val byApi = apis.map { a =>
        val base = dir.resolve(a.name)
        for (mode <- Seq(0x1a4, 0x1a0, 0x1ed)) { // 0644, 0640, 0755
          val perm = new FsPermission(mode.toShort)
          val m = Integer.toOctalString(mode)
          a.fs.create(new Path(s"$base/fs/file$m"), perm, false, 4096,
            1.toShort, 1L << 20, null).close()
          a.fs.mkdirs(new Path(s"$base/fs/dir$m"), perm)
          a.fc.create(new Path(s"$base/fc/file$m"), EnumSet.of(CreateFlag.CREATE),
            Options.CreateOpts.perms(perm), Options.CreateOpts.createParent()).close()
          a.fc.mkdir(new Path(s"$base/fc/dir$m"), perm, true)
        }
        // a sticky bit keeps the stock code (mkdirs drops it)
        a.fs.mkdirs(new Path(s"$base/fs/sticky"))
        a.fs.setPermission(new Path(s"$base/fs/sticky"),
          new FsPermission(0x3ed.toShort)) // 01755
        a.name -> modes(base)
      }.toMap
      val engine = byApi("engine")
      assert(engine == byApi("stock"))
      // per mode and API a file, its .crc and a dir; then the sticky
      // dir and the fs/ and fc/ parents
      assert(engine.size == 3 * 2 * 3 + 3)
      assert(engine("fs/file640") == (false, 0x1a0))
      assert(engine("fc/.file644.crc") == (false, 0x1a4))
      assert(engine("fc/dir755") == (true, 0x1ed))
      assert(engine("fs/sticky") == (true, 0x3ed))
    }
  }

  test("getFileLinkStatus agrees with the stock code for files, dirs and symlinks") {
    withTempDir { dir =>
      Files.write(dir.resolve("file"), "x".getBytes(UTF_8))
      Files.createDirectory(dir.resolve("dir"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      def status(st: FileStatus) = (st.getPath.toUri.getPath, st.isFile,
        st.isDirectory, st.isSymlink,
        if (st.isSymlink) st.getSymlink.toUri.getPath else "", st.getLen)
      def outcome(get: Path => FileStatus, p: Path) =
        Try(status(get(p))).toEither.left.map(_.getClass.getName)
      val Seq(engine, stock) = apis
      for (name <- Seq("file", "dir", "link", "dangling")) {
        val p = new Path(dir.resolve(name).toString)
        val q = new Path(dir.resolve(name).toUri)
        assert(outcome(engine.fs.getFileLinkStatus, p) ==
          outcome(stock.fs.getFileLinkStatus, p), s"FileSystem, $name")
        assert(outcome(engine.fc.getFileLinkStatus, q) ==
          outcome(stock.fc.getFileLinkStatus, q), s"FileContext, $name")
      }
      // the unqualified FileSystem form sees the link as a link
      assert(engine.fs.getFileLinkStatus(new Path(dir.resolve("link").toString))
        .isSymlink)
      val missing = new Path(dir.resolve("missing").toString)
      for (a <- Seq(engine, stock)) {
        intercept[FileNotFoundException](a.fs.getFileLinkStatus(missing))
        intercept[FileNotFoundException](a.fc.getFileLinkStatus(missing))
      }
    }
  }

  test("FileContext rename with OVERWRITE replaces the target and moves its .crc") {
    withTempDir { dir =>
      val byApi = apis.map { a =>
        val base = dir.resolve(a.name)
        def put(name: String, body: String): Unit = {
          val out = a.fc.create(new Path(s"$base/$name"),
            EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
          try out.write(body.getBytes(UTF_8)) finally out.close()
        }
        put("src", "new contents")
        put("dst", "old")
        a.fc.rename(new Path(s"$base/src"), new Path(s"$base/dst"),
          Options.Rename.OVERWRITE)
        // the read verifies the moved checksum
        val in = a.fc.open(new Path(s"$base/dst"))
        val got = try new String(in.readAllBytes(), UTF_8) finally in.close()
        a.name -> (got, modes(base).keySet,
          Files.readAllBytes(base.resolve(".dst.crc")).toSeq)
      }.toMap
      assert(byApi("engine") == byApi("stock"))
      assert(byApi("engine")._1 == "new contents")
      assert(byApi("engine")._2 == Set("dst", ".dst.crc"))
    }
  }
}
