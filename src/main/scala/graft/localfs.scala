package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Raw local file system that sets file modes in-process. Without
  * libhadoop, the stock `RawLocalFileSystem.setPermission` forks one
  * `chmod` per file, `.crc` sidecar and directory it creates, so process
  * spawning dominates a local commit. Modes the POSIX permission set
  * cannot express go through the stock path: the sticky bit, and a
  * directory that carries setuid/setgid, which `chmod 0755 dir` keeps and
  * a plain chmod(2) would clear. So does a file store without POSIX modes.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    try {
      val path = pathToFile(p).toPath
      val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      val keepsSetId = (mode & 0xC00) != 0 && Files.isDirectory(path) // octal 6000
      if (permission.getStickyBit || keepsSetId) super.setPermission(p, permission)
      else {
        val rwx = Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction).map(_.SYMBOL).mkString
        Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(rwx))
      }
    } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

/** `file://` with checksums: `.crc` sidecars are written and verified as by
  * the stock `LocalFileSystem`; only mode setting differs.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  /** Session conf that routes `file://` through [[NioLocalFileSystem]]
    * (driver and executors, via `spark.hadoop.*`); other schemes are
    * untouched.
    */
  val SessionConf: Map[String, String] =
    Map("spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName)
}
