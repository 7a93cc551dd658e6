package graft.io

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's checksummed local filesystem, setting permissions inside the
  * JVM. Without libhadoop, the stock `RawLocalFileSystem.setPermission`
  * runs `chmod` as a child process for every file and directory it
  * creates: a data file, its `.crc` and each new directory, 11–15 ms per
  * created file on a 4-core host against 0.07 ms for a plain Java create.
  * This one sets the same mode bits with `Files.setPosixFilePermissions`.
  * It falls back to the stock call when the requested or current mode
  * carries a setuid, setgid or sticky bit (which `chmod` handles in its
  * own way) or the filesystem has no POSIX modes. Checksums and `.crc`
  * sidecars are the stock ones. A write installs it as `fs.file.impl`
  * with `fs.file.impl.disable.cache` (see [[graft.split.Splitter]]). */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  /** The setuid, setgid and sticky bits (octal 7000). */
  private val Special = 0xe00

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val bits = permission.toShort.toInt
      val current =
        try Some(Files.getAttribute(file, "unix:mode").asInstanceOf[Int])
        catch { case _: UnsupportedOperationException | _: IllegalArgumentException => None }
      if (current.forall(m => ((bits | m) & Special) != 0)) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // values run owner read .. others execute, mode bits 8 down to 0
        for ((pp, i) <- PosixFilePermission.values.zipWithIndex
             if (bits & (0x100 >> i)) != 0) perms.add(pp)
        Files.setPosixFilePermissions(file, perms)
      }
    }
  }
}
