package graft.sources

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's checksummed local file system, setting permissions in-process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every file it creates and every directory
  * it makes, a few milliseconds each and a large share of a small group
  * write and commit. [[LocalFs.Raw]] sets the same mode with `java.nio`.
  * Hadoop applies the umask before it calls `setPermission`, and this is
  * still a [[LocalFileSystem]] (every data file keeps its `.crc`,
  * verified on read), so the files, checksums and modes are those of the
  * stock local file system.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Hadoop conf keys that make `file:` paths use [[LocalFs]]; other
    * schemes are untouched. Without `disable.cache`, `FileSystem.get`
    * returns the `file` instance it cached per scheme and user, whatever
    * `fs.file.impl` names.
    */
  val Conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Defers to Hadoop for a sticky bit, which `java.nio` cannot set, and
    * on a store without POSIX modes.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // OWNER_READ .. OTHERS_EXECUTE are the mode bits 0400 .. 0001
        PosixFilePermission.values.foreach { b =>
          if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
  }
}
