package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The local Hadoop filesystem without shell forks, for streaming
  * checkpoints.
  *
  * Without `libhadoop`, stock `RawLocalFileSystem` shells out for two
  * calls that every checkpoint file goes through:
  *  - `setPermission` runs `chmod` for every file and directory it creates;
  *  - `getFileLinkStatus` runs `readlink`, four times per
  *    `FileContext.rename`. It is handed a `file:`-prefixed path, so the
  *    `readlink` always fails and the call always returns `getFileStatus`.
  * Each fork costs ~4-8 ms against ~4 µs for the nio equivalent, and a
  * drained streaming query makes ~265 of them (offset, commit, metadata and
  * schema logs, state-store deltas and their checksum files).
  *
  * This subclass overrides exactly those two calls; everything else is
  * stock Hadoop. Each override hands the cases it does not reproduce
  * exactly back to `super`, so the results are the same as before:
  *  - `setPermission` with the sticky bit set (nio cannot set it);
  *  - `getFileLinkStatus` on a real symlink.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission.toShort))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** FileContext resolves `file:` through this key on every
    * `FileContext.getFileContext`; Hadoop does not cache the
    * `AbstractFileSystem`s it builds from it. */
  private val AbstractFsKey = "fs.AbstractFileSystem.file.impl"

  /** Binds `file:` FileContexts to the shim on the session's Hadoop
    * configuration. Spark builds the checkpoint file managers of every
    * streaming query (offset, commit and metadata logs, state schema,
    * state-store files on the driver and the executors) from a copy of that
    * configuration, so each one created afterwards is fork-free. Binds a
    * constant: nothing ever unbinds or restores it. */
  def install(s: SparkSession): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val impl = classOf[Checksummed].getName
    if (conf.get(AbstractFsKey) != impl) conf.set(AbstractFsKey, impl)
  }

  /** `org.apache.hadoop.fs.local.RawLocalFs` (its four overrides) over the
    * shim instead of stock `RawLocalFileSystem`. */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `org.apache.hadoop.fs.local.LocalFs` over [[Raw]]: the same `.crc`
    * sidecar for every file written. */
  class Checksummed(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(uri, conf))

  /** The nine rwx bits of `mode` (PosixFilePermission declares them from
    * OWNER_READ, 0400, down to OTHERS_EXECUTE, 0001). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p))
    set
  }
}
