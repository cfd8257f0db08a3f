package graft.meta

import java.io.IOException
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with a fork-free `setPermission`.
  * Without the native `libhadoop`, the stock [[RawLocalFileSystem]] runs a
  * `chmod` child process for every file and directory it creates (a
  * parquet file, its `.crc` and each partition directory: about three
  * fork+execs per staged file). Registered as `fs.file.impl` in
  * [[graft.Sessions.required]]. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!setByNio(p, permission)) super.setPermission(p, permission)

    /** Sets the same (already umasked) mode through NIO's `chmod`, or
      * returns false where NIO would differ from the stock command: a
      * sticky bit, a path that already carries setuid/setgid (a 4-digit
      * `chmod` keeps them on a directory, NIO clears them), or a file
      * store without the `unix` view. */
    private[meta] def setByNio(p: Path, permission: FsPermission): Boolean = {
      val f = pathToFile(p).toPath
      val mode = permission.toShort.toInt
      !permission.getStickyBit && (try {
        (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00) == 0 && {
          // PosixFilePermission's ordinals run owner-read (0400) … others-execute (0001)
          val perms = PosixFilePermission.values.filter(v => (mode & (0x100 >> v.ordinal)) != 0)
          Files.setPosixFilePermissions(f, java.util.Set.of(perms: _*))
          true
        }
      } catch {
        case _: IOException | _: UnsupportedOperationException | _: IllegalArgumentException => false
      })
    }
  }
}
