package graft.tools

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Operation-counting Hadoop FileSystem (`countfs:`): every metadata
  * and open/create call is counted by kind, then delegated to
  * [[RawLocalFileSystem]] over the same local path. Lets a test assert
  * which filesystem operations a statement issues, e.g. that a walk
  * lists plain directories and never asks for located statuses.
  *
  * Wire-up: hadoop conf `fs.countfs.impl` = this FQCN (and
  * `fs.AbstractFileSystem.countfs.impl` = [[CountingAbstractFs]]),
  * warehouse path `countfs:/tmp/…`; the catalog needs
  * `graft.catalog.fs.assumeAtomic` because the scheme is unknown to
  * the contract allowlist (the delegate is RawLocalFileSystem, whose
  * rename/create ARE atomic — the assertion is true by construction). */
class CountingFileSystem extends RawLocalFileSystem {

  private def count(op: String): Unit =
    CountingFileSystem.byOp.computeIfAbsent(op,
      _ => new java.util.concurrent.atomic.LongAdder).increment()

  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")

  override def listStatus(p: Path): Array[FileStatus] = {
    count("listStatus"); super.listStatus(p)
  }
  // `listFiles` comes through here; the default implementation's own
  // `listStatus` call is counted as well.
  override def listLocatedStatus(
      p: Path): RemoteIterator[LocatedFileStatus] = {
    count("listLocatedStatus"); super.listLocatedStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    count("getFileStatus"); super.getFileStatus(p)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count("rename"); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    count("delete"); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    count("mkdirs"); super.mkdirs(p, permission)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    count("open"); super.open(p, bufferSize)
  }
  override def create(p: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    count("create")
    super.create(p, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object CountingFileSystem {
  /** Operations since JVM start, by kind (counted on every FileSystem
    * instance; Hadoop caches one per scheme+conf but the counter is
    * global either way). Diff two snapshots to attribute a phase. */
  val byOp = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.LongAdder]
  def snapshotByOp(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    byOp.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }
}

/** The FileContext-API twin (HadoopCatalogIo's atomic replacing
  * publish goes through `FileContext.rename(OVERWRITE)`, which
  * resolves `fs.AbstractFileSystem.countfs.impl`): delegate to the
  * same counting filesystem. */
class CountingAbstractFs(uri: URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, {
      val fs = new CountingFileSystem
      fs.setConf(conf)
      fs
    }, conf, "countfs", false)
