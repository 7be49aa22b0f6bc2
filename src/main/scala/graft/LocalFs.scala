package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, except that it sets a
  * permission with a `chmod` system call. Without `libhadoop`,
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and every
  * `create` and `mkdirs` calls it: 33 forks on a warm `runDaily` day.
  * `Sessions.build` registers this class for the `file:` scheme. */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  /** Sets the whole mode, sticky bit included. A directory keeps its
    * setuid and setgid bits, as under the forked `chmod 0755`, so a dir
    * made under a setgid dir stays setgid. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val kept = if (Files.isDirectory(f)) Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & SetIds else 0
      Files.setAttribute(f, "unix:mode", Int.box(permission.toShort | kept))
    }
  }

  private val SetIds = Integer.parseInt("6000", 8)
}
