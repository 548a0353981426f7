package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without a process fork per created file.
  *
  * Without the native libhadoop, `RawLocalFileSystem.setPermission` runs
  * `chmod` through `Shell.execCommand`: one forked process for every file
  * and directory created on `file:` with a permission (each parquet part
  * file and its `.crc`, committer dirs, `_SUCCESS`, lease and marker
  * files, stream offset/commit logs). On an idle 4-vCPU VM a Hadoop
  * `create`+`close` took 6–9 ms and a `mkdirs` 3–4 ms that way, against
  * 0.15–0.4 ms and under 0.1 ms here. [[ForkFreeLocalFileSystem]]
  * (for `FileSystem`) and [[ForkFreeLocalFs]] (its `AbstractFileSystem`
  * twin, used by `FileContext`) set the same permission bits, umask
  * already applied by Hadoop, through
  * `java.nio.file.Files.setPosixFilePermissions`. Everything else is the
  * stock local filesystem, checksums included; a bit NIO cannot express
  * (sticky) and a non-POSIX platform take the stock path. With libhadoop
  * loaded the stock path would not fork either; there these classes
  * only trade its native chmod for the NIO call.
  */
object ForkFreeFs {
  val FileImplKey = "fs.file.impl"
  val AbstractFileImplKey = "fs.AbstractFileSystem.file.impl"
  private val HadoopAbstractDefault = classOf[org.apache.hadoop.fs.local.LocalFs].getName

  /** Point `file:` at the fork-free classes in `conf`, unless the user
    * already chose an implementation for either. `FileSystem.get`
    * caches the first `file:` instance per JVM and user, so this must
    * run before that first lookup (for a session: before its first
    * `spark.conf` call, whose shared-state init qualifies the warehouse
    * path). */
  def register(conf: Configuration): Unit = {
    val fileImplUnset = Option(conf.get(FileImplKey)).forall(_.trim.isEmpty)
    if (fileImplUnset && conf.get(AbstractFileImplKey) == HadoopAbstractDefault) {
      conf.set(FileImplKey, classOf[ForkFreeLocalFileSystem].getName)
      conf.set(AbstractFileImplKey, classOf[ForkFreeLocalFs].getName)
    }
  }

  // bit i of an octal mode (0 = others-execute ... 8 = owner-read)
  private val ModeBits = Array(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
    GROUP_EXECUTE, GROUP_WRITE, GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)

  /** Set `permission` on `file` through NIO; false when NIO cannot
    * express it (a bit above the nine rwx bits, or no POSIX view), so
    * the caller falls back to Hadoop's own chmod. */
  private[util] def setPosix(file: java.io.File, permission: FsPermission): Boolean = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) false
    else {
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for (i <- ModeBits.indices if (mode >> i & 1) == 1) set.add(ModeBits(i))
      try { Files.setPosixFilePermissions(file.toPath, set); true }
      catch { case _: UnsupportedOperationException => false }
    }
  }
}

/** `RawLocalFileSystem` whose `setPermission` does not fork (see
  * [[ForkFreeFs]]). */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!ForkFreeFs.setPosix(pathToFile(p), permission)) super.setPermission(p, permission)
}

/** The checksummed `file:` `FileSystem` over [[ForkFreeRawLocalFileSystem]].
  * Still a `LocalFileSystem`, so `FileSystem.getLocal` and the local
  * O_EXCL branches of [[FileLease]] and `VersionedTable` keep matching. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `RawLocalFs` (the stock raw `AbstractFileSystem` for `file:`) over
  * [[ForkFreeRawLocalFileSystem]]; the overrides are RawLocalFs's own. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `AbstractFileSystem` (`LocalFs`'s shape) over
  * [[ForkFreeRawLocalFs]]; `FileContext` instantiates it by its
  * (URI, Configuration) constructor. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
