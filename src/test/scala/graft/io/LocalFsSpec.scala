package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] against Hadoop's own local filesystem: the same modes,
  * bytes, `.crc` sidecars, link statuses and rename outcomes, through the
  * FileSystem API and through `FileContext`.
  */
class LocalFsSpec extends AnyFunSuite {

  private def octal(s: String): FsPermission =
    new FsPermission(Integer.parseInt(s, 8).toShort)

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def stockFs(c: Configuration): FileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(URI.create("file:///"), c); fs
  }

  private def ourFs(c: Configuration): FileSystem = {
    val fs = new LocalFs.Checksummed; fs.initialize(URI.create("file:///"), c); fs
  }

  /** Relative path → (mode with the sticky bit, bytes of a file) for
    * everything under `root`.
    */
  private def tree(root: NioPath): Map[String, (Int, Seq[Byte])] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root).map { p =>
      val mode = Files.getAttribute(p, "unix:mode",
        java.nio.file.LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil
      root.relativize(p).toString -> (mode, bytes)
    }.toMap
    finally s.close()
  }

  private def write(out: java.io.OutputStream, text: String): Unit =
    try out.write(text.getBytes(UTF_8)) finally out.close()

  /** The FileSystem-API calls the converter and the ledger make: plain and
    * explicit-mode creates, nested and explicit-mode `mkdirs`,
    * `setPermission` on a file and a directory, a sticky directory.
    */
  private def fileSystemOps(fs: FileSystem, root: NioPath): Unit = {
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    write(fs.create(p("plain")), "plain bytes")
    fs.mkdirs(p("a/b/c"))
    fs.mkdirs(p("m700"), octal("700"))
    write(fs.create(p("p600"), octal("600"), true, 4096, 1.toShort, 64L << 20, null), "six")
    write(fs.create(p("a/b/p750"), octal("750"), true, 4096, 1.toShort, 64L << 20, null), "seven")
    write(fs.create(p("chm")), "chm")
    fs.setPermission(p("chm"), octal("640"))
    fs.setPermission(p("a/b"), octal("711"))
    fs.mkdirs(p("sticky"))
    fs.setPermission(p("sticky"), octal("1777"))
  }

  for (umask <- Seq("022", "077"))
    test(s"FileSystem API, umask $umask: the same modes, bytes and .crc " +
      "sidecars as Hadoop's LocalFileSystem") {
      val c = conf(umask)
      val stock = Files.createTempDirectory("graft-localfs-stock")
      val ours = Files.createTempDirectory("graft-localfs-ours")
      fileSystemOps(stockFs(c), stock)
      fileSystemOps(ourFs(c), ours)
      val (want, got) = (tree(stock), tree(ours))
      assert(want.keySet.exists(_.endsWith(".crc")), want.keySet)
      assert(got == want)
      assert(want("sticky")._1 == Integer.parseInt("1777", 8))
      // the statuses Hadoop reports back agree as well
      val perm = (fs: FileSystem, root: NioPath) =>
        Seq("plain", "p600", "a/b/c", "chm", "sticky").map(r =>
          fs.getFileStatus(new Path(root.resolve(r).toUri)).getPermission)
      assert(perm(ourFs(c), ours) == perm(stockFs(c), stock))
    }

  private def fields(s: FileStatus) =
    (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen,
      s.getPermission, s.getOwner, s.getGroup, s.getModificationTime)

  /** A status's [[fields]], or the class of what it threw. */
  private def linkStatus(fs: FileSystem, p: Path): String =
    scala.util.Try(fields(fs.getFileLinkStatus(p))).fold(_.getClass.getName, _.toString)

  test("getFileLinkStatus of a file, a directory, a symlink, a dangling " +
    "symlink and a missing path matches Hadoop's, for qualified and bare paths") {
    val root = Files.createTempDirectory("graft-localfs-links")
    Files.writeString(root.resolve("f"), "x")
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("ln"), root.resolve("f"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))
    val c = conf("022")
    val (stock, ours) = (stockFs(c), ourFs(c))
    // Hadoop's readlink sees a link only on a bare path: a `file:` path
    // reads as the link's target (a dangling one as missing), on both
    for (rel <- Seq("f", "d", "ln", "dangling", "missing");
         p <- Seq(new Path(root.resolve(rel).toUri), new Path(root.resolve(rel).toString)))
      assert(linkStatus(ours, p) == linkStatus(stock, p), p)
    for (rel <- Seq("ln", "dangling"))
      assert(ours.getFileLinkStatus(new Path(root.resolve(rel).toString)).isSymlink, rel)
    intercept[FileNotFoundException](
      ours.getFileLinkStatus(new Path(root.resolve("missing").toUri)))
  }

  /** [[fields]] without the path and times, for files under two roots. */
  private def shape(s: FileStatus): String =
    (s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPermission,
      s.getOwner, s.getGroup).toString

  /** The FileContext calls of a checkpoint commit: create, rename onto a
    * new and onto an existing name, with and without OVERWRITE.
    */
  private def contextOps(fc: FileContext, root: NioPath): Seq[String] = {
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    def create(rel: String, text: String): Unit = write(fc.create(p(rel),
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent()), text)
    create("tmp0", "zero")
    fc.rename(p("tmp0"), p("0"))
    create("tmp1", "one")
    val clash = scala.util.Try(fc.rename(p("tmp1"), p("0"))).failed.map(_.getClass.getName)
    fc.rename(p("tmp1"), p("0"), Options.Rename.OVERWRITE)
    fc.mkdir(p("state/1"), octal("755"), true)
    Seq(clash.getOrElse("no failure"),
      shape(fc.getFileLinkStatus(p("0"))), shape(fc.getFileLinkStatus(p("state"))))
  }

  for (umask <- Seq("022", "077"))
    test(s"FileContext, umask $umask: create, rename and mkdir give the same " +
      "files, modes and failures as Hadoop's local.LocalFs") {
      val stockConf = conf(umask)
      val ourConf = LocalFs.configured(conf(umask))
      assert(ourConf.get("fs.AbstractFileSystem.file.impl") == classOf[LocalFs.Context].getName)
      val stock = Files.createTempDirectory("graft-localfc-stock")
      val ours = Files.createTempDirectory("graft-localfc-ours")
      val a = contextOps(FileContext.getFileContext(stockConf), stock)
      val b = contextOps(FileContext.getFileContext(ourConf), ours)
      assert(a.head.endsWith("FileAlreadyExistsException"), a)
      assert(b == a)
      assert(tree(ours) == tree(stock))
    }

  test("entries: none when the deployment set either impl key; configured " +
    "leaves its input unchanged") {
    val plain = new Configuration()
    assert(LocalFs.entries(plain) == Map(
      "fs.file.impl" -> classOf[LocalFs.Checksummed].getName,
      "fs.file.impl.disable.cache" -> "true",
      "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Context].getName))
    val own = new Configuration()
    own.set("fs.file.impl", classOf[LocalFileSystem].getName)
    assert(LocalFs.entries(own).isEmpty)
    // an explicit value equal to Hadoop's default is still the deployment's
    val ctx = new Configuration()
    ctx.set("fs.AbstractFileSystem.file.impl", ctx.get("fs.AbstractFileSystem.file.impl"))
    assert(LocalFs.entries(ctx).isEmpty)
    val copy = LocalFs.configured(plain)
    assert(plain.get("fs.file.impl") == null)
    assert(copy.get("fs.file.impl") == classOf[LocalFs.Checksummed].getName)
    assert(LocalFs.configured(own).get("fs.file.impl") == classOf[LocalFileSystem].getName)
    // set and unset again (a test's conf window) leaves it unset
    own.unset("fs.file.impl")
    assert(LocalFs.entries(own) == LocalFs.entries(plain))
  }
}
