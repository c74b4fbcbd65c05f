package graft.sync

import java.nio.file.Files
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Row}

/** Hadoop's local filesystem with permissions set through NIO instead of
  * a forked process. Without the native Hadoop library,
  * `RawLocalFileSystem.setPermission` runs `chmod` in a child process for
  * every directory, data file and checksum file a write creates (about
  * 7 ms each from a 3 GB JVM on a 4-vCPU VM);
  * `Files.setPosixFilePermissions` sets the same nine mode bits
  * in-process. A mode NIO cannot express (the sticky bit), or a
  * filesystem without POSIX attributes, falls back to Hadoop's own
  * implementation. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.modeBits(permission.toShort))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

object NioRawLocalFileSystem {
  /** The permission set of the low nine bits of a Unix mode. */
  def modeBits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermissions.fromString("rwxrwxrwx".zipWithIndex.map { case (c, i) =>
      if ((mode & (1 << (8 - i))) != 0) c else '-' }.mkString)
}

/** The checksummed local filesystem over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  /** Writes `w` as parquet at `path` with the `file:` scheme bound to
    * [[NioLocalFileSystem]] for this write only: writer options reach the
    * write's Hadoop configuration (driver-side commit and every task),
    * and disabling the filesystem cache for the scheme keeps the cached
    * session-wide instance out of it. Every parquet write of the store
    * and of a retrieval snapshot goes through here. */
  def parquet(w: DataFrameWriter[Row], path: String): Unit =
    w.option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .parquet(path)
}
