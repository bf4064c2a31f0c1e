package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Hadoop's `RawLocalFileSystem` without a process per call. Without
  * libhadoop, the stock class forks `chmod` for every file create and
  * `mkdirs` (`setPermission`), and `readlink` for every
  * `getFileLinkStatus` (which `FileContext.rename` calls, so every
  * streaming offset-log, commit-log and state-store commit pays it) —
  * about 2 ms each from a 3 GB JVM. Here both go through `java.nio`:
  *
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions`; a sticky bit, or a store without a
  *    POSIX view, keeps Hadoop's own path;
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus` (what Hadoop returns for it too); symlinks keep
  *    Hadoop's own path.
  *
  * Same bytes, `.crc` sidecars, mode bits and rename semantics as the
  * stock classes (LocalFsSpec). [[LocalFs.Checksummed]] serves the
  * FileSystem API (`fs.file.impl`), [[LocalFs.Context]] `FileContext`
  * (`fs.AbstractFileSystem.file.impl`); [[LocalFs.entries]] and its
  * callers route the engine's own writes through them.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** `fs.file.impl`: Hadoop's `LocalFileSystem` (checksummed) over [[LocalFs]]. */
  final class Checksummed extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `local.LocalFs` over
    * [[LocalFs]] — a `ChecksumFs` over a delegate with the overrides of
    * Hadoop's `local.RawLocalFs` (whose constructors are package-private).
    */
  final class Context(uri: URI, conf: Configuration)
      extends ChecksumFs(new Delegate(uri, conf))

  private final class Delegate(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    @deprecated("deprecated in AbstractFileSystem", "")
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  private val ImplKey = "fs.file.impl"
  private val ContextImplKey = "fs.AbstractFileSystem.file.impl"

  /** The entries that route `file:` through [[LocalFs]] — none when the
    * deployment set either impl key itself (any source but Hadoop's
    * `core-default.xml`), whose choice is then kept. The cache is off so
    * a `file:` instance already cached under the stock class is not
    * returned instead.
    */
  def entries(conf: Configuration): Map[String, String] =
    if (Seq(ImplKey, ContextImplKey).exists(k => conf.get(k) != null &&
        // `unset` keeps a key's sources: the value decides whether it is set
        Option(conf.getPropertySources(k)).exists(_.exists(_ != "core-default.xml"))))
      Map.empty
    else Map(
      ImplKey -> classOf[Checksummed].getName,
      s"$ImplKey.disable.cache" -> "true",
      ContextImplKey -> classOf[Context].getName)

  /** [[entries]] for writes through `spark`'s session: DataFrameWriter
    * options.
    */
  def options(spark: SparkSession): Map[String, String] =
    entries(spark.sessionState.newHadoopConf())

  /** A copy of `conf` with [[entries]] applied. */
  def configured(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    entries(conf).foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Run `start` (a `writeStream.start()`) with [[options]] set as SQL
    * confs until the stream has created its sources (a file source makes
    * its log on the stream thread, from the reading session's conf), then
    * restore the session's previous values. The stream clones the session
    * conf at start, so its logs and state stores keep the entries while the
    * caller's session ends unchanged.
    */
  def aroundStart(spark: SparkSession)(start: => StreamingQuery): StreamingQuery = {
    val set = options(spark)
    val saved = set.keys.map(k => k -> spark.conf.getOption(k))
    try {
      set.foreach { case (k, v) => spark.conf.set(k, v) }
      val q = start
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.awaitInitialization(Long.MaxValue)
      q
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** rwx bits → `PosixFilePermission`s; the enum's order is owner, group,
    * others, each read, write, execute, so ordinal i is bit 0400 >> i.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) s.add(b))
    s
  }
}
