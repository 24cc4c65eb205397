package perfbench

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The raw local file system, plus read/write operation counts in its
  * `FileSystem.Statistics` (the raw local FS counts only bytes). A
  * traced run installs it as the `file` scheme so each span can report
  * the file operations its calls made; reads are opens, listings and
  * status calls, writes are creates, renames, deletes and mkdirs. */
class CountingLocalFileSystem extends RawLocalFileSystem {
  private def read(): Unit = if (statistics != null) statistics.incrementReadOps(1)
  private def write(): Unit = if (statistics != null) statistics.incrementWriteOps(1)

  override def open(f: Path, bufferSize: Int) = { read(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { read(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    write()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { write(); super.delete(p, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    write(); super.mkdirs(f, permission)
  }
}
