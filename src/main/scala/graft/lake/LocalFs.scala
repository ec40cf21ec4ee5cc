package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** The `file:` filesystem of the lake's own writes: Hadoop's
  * `LocalFileSystem`, `.crc` checksums included, whose raw layer sets
  * permission bits through `java.nio.file.Files`.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and it is called for every created file,
  * `.crc` file and directory: a streaming epoch that writes ~150 small
  * parquet files forked ~400 times. Here the same bits are set by one
  * syscall; only bits NIO cannot express (the sticky bit) fall back to
  * Hadoop's fork, counted in [[fallbacks]].
  *
  * The lake's write and commit confs resolve `file:` to this class
  * through [[install]], with Hadoop's FileSystem cache off for the
  * scheme: the cache's `file:` entry stays the session's stock
  * filesystem, and other schemes are untouched. [[fs]] serves driver
  * callers one shared instance, so a metadata lookup creates no
  * filesystem. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private val ImplKey = "fs.file.impl"

  /** Conf entries that resolve `file:` to [[LocalFs]], bypassing
    * Hadoop's FileSystem cache. Also the write options of the lake
    * files written through `DataFrameWriter` (the options reach the
    * write job's Hadoop conf). */
  val options: Map[String, String] = Map(
    ImplKey -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `conf`, resolving `file:` to [[LocalFs]] unless it names another
    * implementation of its own. */
  def install(conf: Configuration): Configuration = {
    val impl = conf.get(ImplKey)
    if (impl == null || impl == classOf[LocalFileSystem].getName)
      options.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** The filesystem of `path` under `conf`; a `file:` path of a conf
    * that installs [[LocalFs]] gets the one shared instance. */
  def fs(path: Path, conf: Configuration): FileSystem =
    if (conf.get(ImplKey) == classOf[LocalFs].getName && isLocal(path, conf))
      shared(conf)
    else path.getFileSystem(conf)

  private def isLocal(path: Path, conf: Configuration): Boolean = {
    val scheme = path.toUri.getScheme
    (if (scheme != null) scheme else FileSystem.getDefaultUri(conf).getScheme) == "file"
  }

  @volatile private var sharedFs: LocalFs = _

  private def shared(conf: Configuration): FileSystem = {
    val f = sharedFs
    if (f != null) f
    else synchronized {
      if (sharedFs == null) {
        val created = new LocalFs
        created.initialize(java.net.URI.create("file:///"), new Configuration(conf))
        sharedFs = created
      }
      sharedFs
    }
  }

  private val fallbackCount = new java.util.concurrent.atomic.AtomicLong

  /** Permission changes handed to Hadoop's forking path so far. */
  def fallbacks: Long = fallbackCount.get()

  /** When set, every path this filesystem sets permissions on (each
    * created file, `.crc` file and directory) or renames to is added
    * to the set: tests check that a write made its files here. */
  @volatile private[lake] var trace: java.util.Set[String] = _

  private def traced(p: Path): Unit = {
    val t = trace
    if (t != null) t.add(p.toUri.getPath)
  }

  private val bits = Seq(
    0x100 -> PosixFilePermission.OWNER_READ,
    0x80 -> PosixFilePermission.OWNER_WRITE,
    0x40 -> PosixFilePermission.OWNER_EXECUTE,
    0x20 -> PosixFilePermission.GROUP_READ,
    0x10 -> PosixFilePermission.GROUP_WRITE,
    0x8 -> PosixFilePermission.GROUP_EXECUTE,
    0x4 -> PosixFilePermission.OTHERS_READ,
    0x2 -> PosixFilePermission.OTHERS_WRITE,
    0x1 -> PosixFilePermission.OTHERS_EXECUTE)

  /** The raw layer: Hadoop's local filesystem, with permissions set
    * through NIO. `create` and `mkdirs` apply the umask, then call
    * [[setPermission]] with the result, as they do in Hadoop. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      bits.foreach { case (b, perm) => if ((mode & b) != 0) set.add(perm) }
      val nio =
        (mode & ~0x1ff) == 0 && (try {
          Files.setPosixFilePermissions(pathToFile(p).toPath, set); true
        } catch { case _: UnsupportedOperationException => false })
      if (!nio) {
        fallbackCount.incrementAndGet()
        super.setPermission(p, permission)
      }
      traced(p)
    }

    override def rename(src: Path, dst: Path): Boolean = {
      val ok = super.rename(src, dst)
      if (ok) traced(dst)
      ok
    }
  }
}
