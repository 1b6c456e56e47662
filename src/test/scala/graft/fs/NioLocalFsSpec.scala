package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioRawLocalFileSystem]] against Hadoop's `RawLocalFileSystem`, whose
  * `chmod`/`readlink` child processes it replaces: every outcome must be
  * the one Hadoop's shell commands produce.
  */
class NioLocalFsSpec extends AnyFunSuite {
  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val hadoop = init(new RawLocalFileSystem)
  private val nio = init(new NioRawLocalFileSystem)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def view(s: FileStatus) =
    (s.getPath, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) s.getSymlink else null)

  test("setPermission leaves the same mode as Hadoop's chmod for every " +
      "non-sticky mode, on files and directories") {
    val dir = Files.createTempDirectory("niofs_chmod_")
    val pairs = Seq(
      Files.createFile(dir.resolve("a")) -> Files.createFile(dir.resolve("b")),
      Files.createDirectory(dir.resolve("da")) ->
        Files.createDirectory(dir.resolve("db")))
    for ((a, b) <- pairs; m <- 0 to 0x1ff) {
      val perm = new FsPermission(m.toShort)
      hadoop.setPermission(new Path(a.toString), perm)
      nio.setPermission(new Path(b.toString), perm)
      assert(Files.getPosixFilePermissions(b) ===
        Files.getPosixFilePermissions(a), f"mode $m%04o on $b")
      assert(mode(b) === m)
    }
  }

  test("sticky modes and setgid directories keep Hadoop's chmod result") {
    val dir = Files.createTempDirectory("niofs_special_")
    val (a, b) = (Files.createDirectory(dir.resolve("a")),
      Files.createDirectory(dir.resolve("b")))
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    hadoop.setPermission(new Path(a.toString), sticky)
    nio.setPermission(new Path(b.toString), sticky)
    assert(mode(b) === mode(a))
    assert(mode(b) === Integer.parseInt("1755", 8))
    // GNU `chmod 0750` keeps a directory's setgid bit; the chmod syscall
    // behind nio would clear it
    for (d <- Seq(a, b))
      assert(new ProcessBuilder("chmod", "2775", d.toString).start()
        .waitFor() === 0)
    val plain = new FsPermission(Integer.parseInt("750", 8).toShort)
    hadoop.setPermission(new Path(a.toString), plain)
    nio.setPermission(new Path(b.toString), plain)
    assert(mode(b) === mode(a))
    assert(mode(b) === Integer.parseInt("2750", 8))
  }

  test("getFileLinkStatus equals Hadoop's for a file, a directory and a " +
      "missing path") {
    val dir = Files.createTempDirectory("niofs_status_")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    for (p <- Seq(file, dir); path <- Seq(new Path(p.toString),
        new Path(p.toUri.toString))) {
      val s = nio.getFileLinkStatus(path)
      assert(!s.isSymlink)
      assert(view(s) === view(hadoop.getFileLinkStatus(path)))
    }
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("a symlink goes through Hadoop and keeps its qualified target") {
    val dir = Files.createTempDirectory("niofs_link_")
    val target = Files.write(dir.resolve("target"), "abc".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("gone"))
    for (l <- Seq(link, dangling)) {
      val path = new Path(l.toString)
      val s = nio.getFileLinkStatus(path)
      assert(s.isSymlink)
      assert(view(s) === view(hadoop.getFileLinkStatus(path)))
    }
    val qualified = nio.getFileLinkStatus(new Path(link.toString)).getSymlink
    assert(qualified.toUri.getScheme === "file")
    assert(qualified.toUri.getPath === target.toString)
  }

  test("as a FileContext, NioLocalFs writes LocalFs's entries, modes, " +
      ".crc bytes and refuses the same clobbering rename") {
    def run(impl: Class[_]): Seq[(String, Int, Seq[Byte])] = {
      val conf = new Configuration()
      conf.set(NioLocalFs.ImplKey, impl.getName)
      assert(AbstractFileSystem.get(URI.create("file:///"), conf).getClass ===
        impl)
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val dir = Files.createTempDirectory("niofs_fc_")
      val sub = new Path(dir.resolve("sub").toUri)
      fc.mkdir(sub, FsPermission.getDirDefault, true)
      def write(name: String): Path = {
        val p = new Path(sub, name)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
        try out.write(s"payload $name".getBytes) finally out.close()
        p
      }
      fc.rename(write("a.tmp"), new Path(sub, "a"))
      intercept[FileAlreadyExistsException](
        fc.rename(write("b.tmp"), new Path(sub, "a"), Options.Rename.NONE))
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_ != dir).map { p =>
        (dir.relativize(p).toString, mode(p),
          if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq
          else Seq.empty[Byte])
      }.toSeq.sortBy(_._1)
      finally walk.close()
    }
    val hadoop = run(classOf[LocalFs])
    assert(run(classOf[NioLocalFs]) === hadoop)
    assert(hadoop.map(_._1) ===
      Seq("sub", "sub/.a.crc", "sub/.b.tmp.crc", "sub/a", "sub/b.tmp"))
  }
}
