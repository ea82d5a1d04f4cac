package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file:` filesystem, counting metadata and data operations per
  * calling thread. A traced run installs it as `fs.file.impl`, so the lake
  * commit protocol's listings, probes, creates, renames and deletes are
  * counted from outside the engine. Reads: list, status, open. Writes:
  * create, mkdirs, rename, delete. Counting is off unless [[CountingLocalFileSystem.enabled]].
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = { read(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
}

object CountingLocalFileSystem {
  private val ops = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](2))
  /** On only while a traced region runs: the untraced region of a traced
    * run, which prices the tracing, then pays for no counting.
    */
  @volatile var enabled = false
  private def read(): Unit = if (enabled) ops.get()(0) += 1
  private def write(): Unit = if (enabled) ops.get()(1) += 1

  /** (read ops, write ops) issued so far by the calling thread. */
  def threadOps(): (Long, Long) = { val a = ops.get(); (a(0), a(1)) }
}
