package perfbench

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with every metadata and open/create call counted
  * by kind in [[FsCounts]]. Only the outermost call on a thread counts:
  * `exists` implemented through `getFileStatus` is one operation.
  *
  * Installed for traced runs only, through a `core-site.xml` on the
  * classpath (`fs.file.impl`, and `fs.AbstractFileSystem.file.impl` for
  * the `FileContext` plane via [[CountingLocalFs]]); untraced runs use
  * Hadoop's own classes. */
class CountingLocalFileSystem extends LocalFileSystem {
  private def op[T](kind: String)(body: => T): T = {
    val d = CountingLocalFileSystem.depth.get
    if (d == 0) FsCounts.hit(kind)
    CountingLocalFileSystem.depth.set(d + 1)
    try body finally CountingLocalFileSystem.depth.set(d)
  }

  override def listStatus(p: Path): Array[FileStatus] =
    op("list")(super.listStatus(p))
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] =
    op("list")(super.listLocatedStatus(p))
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] =
    op("list")(super.listStatusIterator(p))
  override def getFileStatus(p: Path): FileStatus =
    op("status")(super.getFileStatus(p))
  override def exists(p: Path): Boolean =
    op("exists")(super.exists(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    op("open")(super.open(p, bufferSize))
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    op("create")(super.create(p, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(p: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    op("create")(super.createNonRecursive(p, permission, flags, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    op("rename")(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    op("delete")(super.delete(p, recursive))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    op("mkdirs")(super.mkdirs(p, permission))
}

object CountingLocalFileSystem {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
}

/** `FileContext` binding of [[CountingLocalFileSystem]]: the catalog
  * publishes through `FileContext.rename`, which resolves the
  * `AbstractFileSystem` for the scheme rather than the `FileSystem`. */
class CountingLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new CountingLocalFileSystem, conf,
    "file", false)
