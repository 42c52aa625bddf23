package graft.operators

import java.nio.file.Files
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem with permissions set in-process.
  *
  * Without `libhadoop`, Hadoop's `RawLocalFileSystem.setPermission` runs
  * `chmod` as a child process, and the local write path calls it for
  * every file it creates, every `.crc` sidecar and every new directory:
  * a 126-partition day-partitioned write spawned 428 processes, and its
  * write tasks spent most of their time off-CPU waiting on them. This
  * subclass sets the same mode with `Files.setPosixFilePermissions`. A
  * sticky bit (which NIO cannot express) or a filesystem without POSIX
  * attributes goes to the stock `chmod` path, so every mode comes out
  * exactly as before.
  *
  * Registered per write, never per session: [[WriteOptions]] land on the
  * write job's own Hadoop conf (see [[Layouts.writePartitioned]]). A
  * session-level `fs.file.impl` would lose to the JVM-wide `FileSystem`
  * cache as soon as any `file:` instance exists, and the program accepts
  * sessions it did not build.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Writer options that make a `file:` write use this filesystem. The
    * cache must be bypassed for the option to take effect; HDFS and
    * object-store paths ignore both keys.
    */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The raw (checksum-free) layer [[NioLocalFileSystem]] wraps. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          posixOf(permission))
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
      }
  }

  /** The nine rwx bits of `permission` (its sticky bit is not a
    * `PosixFilePermission`).
    */
  def posixOf(permission: FsPermission): java.util.Set[PosixFilePermission] =
    PosixFilePermissions.fromString(Seq(permission.getUserAction,
      permission.getGroupAction, permission.getOtherAction)
      .map(_.SYMBOL).mkString)
}
