package graft.sources

import java.io.FileNotFoundException
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem (`.crc` sidecars written and
  * verified exactly as by `LocalFileSystem`) that sets file modes
  * in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and it runs on every `create` (data file and `.crc`) and on
  * every directory `mkdirs` makes: a partitioned write of a few hundred
  * files forks hundreds of processes. Hadoop has already applied the
  * umask to the mode it passes in, so the resulting modes are the same.
  *
  * Registered as `fs.file.impl` by [[graft.GraftSession.builder]]; the
  * conf must be set before the first `file:` filesystem is created,
  * since Hadoop caches that instance for the JVM.
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixLocalFileSystem.Raw)

private[graft] object PosixLocalFileSystem {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `PosixFilePermission.values` runs owner r,w,x to others r,w,x: bit
    * 0400 down to 0001.
    */
  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }

  /** Overrides only `setPermission`. Modes with sticky or setuid bits,
    * and platforms without the POSIX attribute view, keep Hadoop's path.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if (posix && (mode & ~0x1ff) == 0) {
        val file = pathToFile(p).toPath
        try Files.setPosixFilePermissions(file, permissions(mode))
        catch { case _: NoSuchFileException => throw new FileNotFoundException(file.toString) }
      } else super.setPermission(p, permission)
    }
  }
}
