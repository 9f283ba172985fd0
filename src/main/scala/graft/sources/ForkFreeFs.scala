package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without child processes. Without its
  * native library Hadoop forks `chmod` for every `setPermission` and
  * `readlink` for every `getFileLinkStatus`: each file it creates and
  * each FileContext rename (checkpoint offsets, commits, state-store
  * deltas) starts one to three processes. These two overrides do the
  * same in-process; sticky permissions, non-POSIX stores, setuid/setgid
  * directories (whose extra bits GNU chmod keeps) and real symlinks
  * still take Hadoop's own path.
  */
class ForkFreeRawFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || !ForkFreeRawFileSystem.Posix || ForkFreeRawFileSystem.setIdDir(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, ForkFreeRawFileSystem.perms(permission.toShort))
  }

  /** For a path that is not a symlink Hadoop returns `getFileStatus`
    * once `readlink` comes back empty; this answers the same without it.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

object ForkFreeRawFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private def setIdDir(file: java.nio.file.Path): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0 // S_IFDIR with S_ISUID or S_ISGID
  }

  private def perms(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 8 down to 0
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) => if ((mode & (0x100 >> i)) != 0) s.add(p) }
    s
  }
}

/** `fs.file.impl`: the FileSystem API with Hadoop's `.crc` sidecars. */
class ForkFreeFileSystem extends LocalFileSystem(new ForkFreeRawFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext API (streaming
  * checkpoints, state stores) with Hadoop's `.crc` sidecars. Hadoop
  * constructs it reflectively through this (URI, Configuration) shape.
  */
class ForkFreeFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawFs(conf))

/** Hadoop's `RawLocalFs` over [[ForkFreeRawFileSystem]]; its
  * constructors are package-private, so its four overrides are copied.
  */
private[sources] class ForkFreeRawFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
