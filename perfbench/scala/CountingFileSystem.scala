package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with a count of the metadata and open/create
  * calls made through it. The traced run installs it as the `file:`
  * scheme (`spark.hadoop.fs.file.impl`), because the local filesystem's
  * own storage statistics count bytes but not operations. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.ops

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ops.incrementAndGet(); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    ops.incrementAndGet(); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    ops.incrementAndGet(); super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    ops.incrementAndGet(); super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    ops.incrementAndGet(); super.getFileStatus(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    ops.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val ops = new AtomicLong(0)
}
