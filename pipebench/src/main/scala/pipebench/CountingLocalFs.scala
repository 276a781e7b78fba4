package pipebench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file:` filesystem with call counters. Traced runs register it as
  * `fs.file.impl`; every call goes on to `LocalFileSystem` unchanged, and
  * counting only happens while `CountingLocalFs.on` is set. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (on) { opens.incrementAndGet(); if (isMeta(f)) metaOpens.incrementAndGet() }
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (on) creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (on) creates.incrementAndGet()
    super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (on) renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (on) deletes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    if (on) lists.incrementAndGet()
    super.listStatus(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    if (on) lists.incrementAndGet()
    super.listLocatedStatus(f)
  }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    if (on) lists.incrementAndGet()
    super.listStatusIterator(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    if (on) statusCalls.incrementAndGet()
    super.getFileStatus(f)
  }
}

object CountingLocalFs {
  @volatile var on = false
  val opens, metaOpens, creates, renames, deletes, lists, statusCalls =
    new AtomicLong()

  /** Manifests, commit files, cursors, refs and `_stats` sidecars: any
    * file under an `_`-prefixed name, or any file that is not parquet. */
  def isMeta(f: Path): Boolean = {
    val s = f.toUri.getPath
    s.contains("/_") || !s.endsWith(".parquet")
  }

  def snapshot(): Map[String, Long] = Map(
    "fs.creates" -> creates.get, "fs.renames" -> renames.get,
    "fs.deletes" -> deletes.get, "fs.lists" -> lists.get,
    "fs.status_calls" -> statusCalls.get, "fs.opens" -> opens.get,
    "fs.meta_opens" -> metaOpens.get)
}
