package perfbench

import java.util.concurrent.CompletableFuture

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local FileSystem with its opens, listings and status calls counted
  * as read ops and its creates, renames, deletes and mkdirs as write ops,
  * in the scheme's FileSystem statistics (the stock local FileSystem counts
  * bytes only). The traced run installs it as `fs.file.impl`.
  */
class CountingFileSystem extends LocalFileSystem {
  // the checksummed local FileSystem never registers statistics of its own
  @annotation.nowarn("cat=deprecation")
  private val ops = org.apache.hadoop.fs.FileSystem.getStatistics("file", classOf[CountingFileSystem])
  private def read[T](body: => T): T = { ops.incrementReadOps(1); body }
  private def write[T](body: => T): T = { ops.incrementWriteOps(1); body }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = read(super.open(f, bufferSize))
  override protected def openFileWithOptions(f: Path, p: OpenFileParameters)
      : CompletableFuture[FSDataInputStream] = read(super.openFileWithOptions(f, p))
  override def listStatus(f: Path): Array[FileStatus] = read(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = read(super.getFileStatus(f))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    write(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    write(super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = write(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = write(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = write(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = write(super.mkdirs(f, permission))
}
